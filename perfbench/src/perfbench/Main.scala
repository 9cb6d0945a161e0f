package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{AsOfJoin, BucketedWindows, LeakageAudit, Windows}
import graft.pipeline.FeaturePipeline

/** Closed-loop benchmark of the feature engine: one client, one process.
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --fixtures DIR --work DIR --expected DIR --out DIR
  *   --tables DIR [--skew DIR] [--probe-skew DIR] [--record]`
  *
  * Fixtures are cached seeded inputs, work is scratch for this run,
  * expected holds the recorded digests and out receives span files and
  * recordings. `--tables` names the query suite's tables; `--skew`
  * (asof_skew) and `--probe-skew` (traced runs) name inputs inputs.py
  * made. The last
  * stdout line is `RESULT {...}` with the end-to-end metrics (`--trace 0`)
  * or the per-layer metrics (`--trace 1`), the host and the check counts.
  * With `--record`, the run instead records the digests the checks
  * compare to.
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      fixtures: String, work: String, expected: String, out: String,
      tables: String, skew: Option[String], probeSkew: Option[String], record: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("fixtures"), m("work"), m("expected"), m("out"), m("tables"), m.get("skew"), m.get("probe-skew"),
      args.contains("--record"))
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val WarmPasses = 2

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sessionConfig(cores: Int): String =
    s"local[$cores], spark.sql.shuffle.partitions=$cores, spark.sql.adaptive.enabled=true"

  /** Drops every persisted block, as a restarted job would start. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** CPU seconds of this process, all threads. Time the hypervisor steals
    * from the guest is not charged to it, so this reads steadier than wall
    * time on a shared host. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** One measured pass: wall seconds and process CPU seconds. */
  final case class Pass(wall: Double, cpu: Double)

  /** Live heap after a full GC. Spark's cleaner drops the blocks of
    * broadcasts and shuffles only after a GC has found their handles
    * unreachable, so a second GC after a pause collects what it freed;
    * with one GC the reading depends on whether the cleaner had run. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Runs calls, times them and counts attempts and failures. A call that
    * throws, or whose output a check rejects, is one failed operation. */
  final class Harness(val spark: SparkSession, val tracer: Tracer) {
    var recording = false
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** call name -> seconds per recorded pass */
    val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    private def record(name: String, total: Double, plan: Double): Unit = {
      System.err.println(f"[perfbench] $name%s $total%.3f s (plan $plan%.3f s)")
      if (recording) calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += total
    }

    def fail(name: String, detail: String): Unit = {
      failed += 1
      if (failures.size < 20) failures += s"$name: $detail"
      System.err.println(s"[perfbench] FAILED $name: $detail")
    }

    /** Times `body`; plan seconds are 0 for calls that are not one query. */
    def timed[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val out = tracer(name)(body)
        record(name, (System.nanoTime() - t0) / 1e9, 0.0)
        Some(out)
      } catch { case NonFatal(e) => fail(name, e.toString); None }
    }

    /** Plans and collects one query. Plan time runs until the executed
      * plan exists (including any jobs the operator runs while building
      * its DataFrame); the rest is execution. */
    def query(name: String)(plan: => DataFrame): Option[Array[Row]] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        tracer(name) {
          val df = tracer(name + ".plan") { val d = plan; d.queryExecution.executedPlan; d }
          val t1 = System.nanoTime()
          val rows = tracer(name + ".exec")(df.collect())
          val t2 = System.nanoTime()
          record(name, (t2 - t0) / 1e9, (t1 - t0) / 1e9)
          Some(rows)
        }
      } catch { case NonFatal(e) => fail(name, e.toString); None }
    }

    def check(name: String, ok: Boolean, detail: => String): Unit = if (!ok) fail(name, detail)

    /** Largest storage (MB) that calls left pinned when they returned. */
    var pinnedMb = 0.0
    /** Largest live heap (MB) with those blocks still pinned, over recorded passes. */
    var heapMb = 0.0
    /** Wall and CPU seconds spent sampling the heap; passes do not count them. */
    var sampleS = 0.0
    var sampleCpuS = 0.0

    /** Records what the last calls left pinned and the live heap that
      * holds it, then drops it. */
    def release(): Unit = {
      val (t0, c0) = (System.nanoTime(), processCpuS())
      pinnedMb = math.max(pinnedMb, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      if (recording) heapMb = math.max(heapMb, liveHeapMb())
      sampleS += (System.nanoTime() - t0) / 1e9
      sampleCpuS += processCpuS() - c0
      Main.release(spark)
    }

    def medianOf(name: String): Double = median(calls.getOrElse(name, Nil).toSeq)
  }

  /** One workload: its inputs and its pass. */
  trait Workload {
    /** Writes this seed's inputs; returns true when anything was generated. */
    def generate(spark: SparkSession): Boolean
    /** Reads the inputs back (part of set-up), or 1/`share` of them: the
      * per-core input of the scaling pair's `local[1]` side. */
    def load(spark: SparkSession, share: Int): Unit
    /** Useful rows of one pass over the loaded inputs (runs a job). */
    def rows: Long
    /** One closed-loop pass; every call's output is checked. */
    def pass(h: Harness): Unit
    /** Per-entity digests to record for the checks (record mode). */
    def record(h: Harness, out: String): Unit =
      throw new IllegalArgumentException("this workload records nothing")
  }

  def rowsDigest(r: Row): String = Digest.format(r.getAs[Long]("n"), r.getAs[Long]("hi"), r.getAs[Long]("lo"))

  def readTsv(path: String): Map[String, Seq[String]] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
      .map(_.split('\t').toSeq).map(f => f.head -> f.tail).toMap

  def writeTsv(path: String, rows: Seq[Seq[String]]): Unit =
    Files.write(Paths.get(path), rows.map(_.mkString("\t")).mkString("", "\n", "\n").getBytes("UTF-8"))

  // ---------------------------------------------------------------- flagship

  /** Flagship: the north-rule feature job over seeded images. The seed
    * picks `k` entities of the 128-entity universe (one per core; each
    * entity is one scan task); checks compare per-entity digests with
    * those recorded for the universe. */
  final class Flagship(fx: String, expected: String, seed: Long, k: Int) extends Workload {
    val entities: Seq[Int] = Fixtures.pickEntities(seed, k)
    private var images: DataFrame = _
    private var probes: DataFrame = _
    private var loaded: Seq[String] = Nil
    private lazy val want = readTsv(s"$expected/flagship.tsv")

    def generate(spark: SparkSession): Boolean = Fixtures.universe(spark, fx)

    def load(spark: SparkSession, share: Int): Unit = {
      val keep = entities.take(math.max(1, k / share))
      loaded = keep.map(Fixtures.entityName)
      images = Fixtures.images(spark, fx, keep)
      probes = Fixtures.probes(spark, fx, keep)
    }

    def rows: Long = images.count()

    def outputs(h: Harness): Seq[(String, Map[String, String])] = {
      val ff = FeaturePipeline.frameFeatures(images)
      def perEntity(name: String, df: => DataFrame, extra: Row => Option[String] = _ => None) =
        h.query(name)(df).map { rows =>
          rows.foreach(r => extra(r).foreach(d => h.fail(name, d)))
          name -> rows.map(r => r.getAs[String]("key") -> rowsDigest(r)).toMap
        }
      val pf = FeaturePipeline.probeFeatures(ff, probes)
      val leaks = sum(LeakageAudit.leaks(col("ts"), col(AsOfJoin.SrcTs)).cast("long")).as("leaks")
      val out = Seq(
        perEntity("flagship.frame_features", Digest.byKey(ff, "entity")),
        perEntity("flagship.second_features",
          Digest.byKey(FeaturePipeline.secondFeatures(ff, Windows.FloorTail), "entity")),
        perEntity("flagship.probe_features", {
          val a = Digest.aggs(Digest.rowHash(pf)) :+ leaks
          pf.groupBy(col("entity").as("key")).agg(a.head, a.tail: _*)
        }, r => Option(r.getAs[Long]("leaks")).filter(_ > 0).map(n => s"$n leaked probe rows")))
      h.release()
      out.flatten
    }

    def pass(h: Harness): Unit = outputs(h).foreach { case (name, got) =>
      val col = Seq("flagship.frame_features", "flagship.second_features",
        "flagship.probe_features").indexOf(name)
      h.check(name, got.keySet == loaded.toSet, s"entities ${got.keys.toSeq.sorted}, loaded $loaded")
      got.foreach { case (entity, digest) =>
        val exp = want.get(entity).map(_(col))
        h.check(name, exp.contains(digest), s"$entity digest $digest, recorded ${exp.getOrElse("none")}")
      }
    }

    override def record(h: Harness, out: String): Unit = {
      val got = outputs(h).map(_._2)
      writeTsv(out, got.head.keys.toSeq.sorted.map(e => e +: got.map(_(e))))
    }
  }

  // ---------------------------------------------------------------- asof_skew

  /** Numeric as-of and window input with one hot entity, plus a uniform
    * twin of the same size. No codec work. */
  final class AsOfSkew(dir: String) extends Workload {
    private def path(kind: String) = s"$dir/$kind"
    private val kinds = Seq("build", "probes", "ubuild", "uprobes")
    private val df = mutable.Map.empty[String, DataFrame]
    private var share = 1
    private val counts = mutable.Map.empty[(String, Int), Long]
    val width: Long = Fixtures.Span / (Cores * 8)

    def generate(spark: SparkSession): Boolean = false

    def load(spark: SparkSession, share: Int): Unit = {
      this.share = share
      kinds.foreach { kind =>
        val d = spark.read.parquet(path(kind))
        df(kind) = if (share > 1) d.where(pmod(col("ts"), lit(share.toLong)) === 0) else d
      }
    }

    private def count(kind: String): Long = counts.getOrElseUpdate((kind, share), df(kind).count())

    def rows: Long = kinds.map(count).sum

    /** Digest of an as-of output; it must hold one row per probe row and
      * no row sourced from the probe's future. */
    private def asOfDigest(h: Harness, name: String, probeKind: String, joined: => DataFrame): Option[Row] =
      h.query(name) {
        val j = joined
        val a = Digest.aggs(Digest.rowHash(j.select("entity", "ts", "pv", "v", AsOfJoin.SrcTs))) :+
          sum(LeakageAudit.leaks(col("ts"), col(AsOfJoin.SrcTs)).cast("long")).as("leaks")
        j.agg(a.head, a.tail: _*)
      }.map(_.head).map { r =>
        h.check(name, r.getAs[Long]("leaks") == 0, s"${r.getAs[Long]("leaks")} leaked rows")
        h.check(name, r.getAs[Long]("n") == count(probeKind),
          s"${r.getAs[Long]("n")} rows for ${count(probeKind)} probes")
        r
      }

    def pass(h: Harness): Unit = {
      val probes = df("probes").withColumnRenamed("v", "pv").drop("pv0")
      val build = df("build").drop("pv0")
      val a = asOfDigest(h, "skew.asof", "probes",
        AsOfJoin.asOf(probes, build, "entity", "ts", Seq("v"), width))
      val m = asOfDigest(h, "skew.asof_merge", "probes",
        AsOfJoin.asOfMerge(probes, build, "entity", "ts", Seq("v"), width))
      for (x <- a; y <- m)
        h.check("skew.asof_merge", rowsDigest(x) == rowsDigest(y),
          s"asOfMerge digest ${rowsDigest(y)} != asOf digest ${rowsDigest(x)}")
      h.query("skew.windows")(Digest.whole(BucketedWindows.frameWindows(
        df("build"), "entity", "ts", width, 5L, locfCols = Seq("pv0"), lagCols = Seq("v"))))
        .foreach(r => h.check("skew.windows", r.head.getAs[Long]("n") == count("build"),
          s"${r.head.getAs[Long]("n")} rows for ${count("build")} input rows"))
      asOfDigest(h, "skew.uniform_asof", "uprobes", AsOfJoin.asOf(
        df("uprobes").withColumnRenamed("v", "pv").drop("pv0"), df("ubuild").drop("pv0"),
        "entity", "ts", Seq("v"), width))
      h.release()
    }
  }

  // ---------------------------------------------------------------- query_suite

  /** One query for each engine module no other layer probe reaches, by
    * module. All 59 queries take 40-100 s per pass on a 4-core host, which
    * does not fit a run; recording (`all`) still covers every query. */
  val SuiteQueries: Seq[(String, String)] = Seq(
    "streaming" -> "q_streaming_tumbling", "audio" -> "q_audio_clip_stats",
    "dedup" -> "q_minhash_lsh", "sim" -> "q_ann_topk", "text" -> "q_tfidf")

  /** SparkEntry.queries over fixed tables. The seed permutes the
    * query order; each query runs in a fresh session and has its persisted
    * blocks released afterwards, so no query is billed for another's work.
    * Runs in traced runs and in record mode, not as a workload. */
  final class QuerySuite(tables: String, expected: String, seed: Long, all: Boolean) extends Workload {
    val names: Seq[String] = new scala.util.Random(seed).shuffle(
      if (all) SparkEntry.queries.keys.toSeq.sorted else SuiteQueries.map(_._2).sorted)
    private lazy val want = readTsv(s"$expected/suite.tsv")
    private var spark: SparkSession = _

    def generate(spark: SparkSession): Boolean = false

    def load(spark: SparkSession, share: Int): Unit = this.spark = spark

    def rows: Long = Seq("lineitem", "events", "documents", "embeddings")
      .map(t => spark.read.parquet(s"$tables/$t.parquet").count()).sum

    def outputs(h: Harness): Seq[(String, String)] = names.flatMap { q =>
      val s = h.spark.newSession()
      val r = h.query(s"q.$q")(Digest.whole(SparkEntry.queries(q)(s, tables)))
      h.release()
      r.map(rows => q -> rowsDigest(rows.head))
    }

    def pass(h: Harness): Unit = outputs(h).foreach { case (q, d) =>
      val exp = want.get(q).map(_.head)
      h.check(s"q.$q", exp.contains(d), s"digest $d, recorded ${exp.getOrElse("none")}")
    }

    override def record(h: Harness, out: String): Unit =
      writeTsv(out, outputs(h).sortBy(_._1).map { case (q, d) => Seq(q, d) })
  }

  // ---------------------------------------------------------------- main

  private val started = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val fx = o.fixtures
    val work = o.work
    val expected = o.expected
    Files.createDirectories(Paths.get(fx))
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val w: Workload = o.workload match {
      case "flagship" =>
        new Flagship(fx, expected, o.seed,
          if (o.record) Fixtures.UniverseEntities else math.min(Cores, Fixtures.UniverseEntities))
      case "asof_skew" => new AsOfSkew(o.skew.get)
      case "query_suite" => new QuerySuite(o.tables, expected, o.seed, all = o.record)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = mutable.LinkedHashMap.empty[String, Double]

    // set-up: session start plus reading the inputs back, three times (once
    // in a traced run, which reports no set-up time). Fixture generation
    // happens inside the first set-up but is timed apart from it.
    var spark: SparkSession = null
    var gen = false
    var fixtureS = 0.0
    val setups = (1 to (if (o.trace) 1 else 3)).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(Cores, work)
      val t1 = System.nanoTime()
      if (i == 1) {
        phase("session started")
        gen = w.generate(spark)
        fixtureS = (System.nanoTime() - t1) / 1e9
      }
      val t2 = System.nanoTime()
      w.load(spark, share = 1)
      (System.nanoTime() - t2 + t1 - t0) / 1e9
    }
    val rows = w.rows
    result("setup_s") = median(setups)
    phase(s"set up ${setups.map(x => f"$x%.2f").mkString(", ")} s")

    if (o.record) {
      val h = new Harness(spark, new Tracer(spark, enabled = false))
      w.record(h, s"${o.out}/recorded-${o.workload}.tsv")
      spark.stop()
      println(s"RECORDED failed=${h.failed} ${h.failures.mkString("; ")}")
      return
    }

    val budget = o.seconds
    /** Runs `pass` (given the pass number) until `seconds` have passed,
      * at least `minPasses` times. Heap sampling in `h` is not timed. */
    def loop(h: Harness, seconds: Double, minPasses: Int)(pass: Int => Unit): Seq[Pass] = {
      val passes = mutable.ArrayBuffer.empty[Pass]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while (passes.size < minPasses || elapsed + passes.last.wall <= seconds) {
        val (t0, c0, s0, sc0) = (System.nanoTime(), processCpuS(), h.sampleS, h.sampleCpuS)
        pass(passes.size)
        passes += Pass((System.nanoTime() - t0) / 1e9 - (h.sampleS - s0),
          processCpuS() - c0 - (h.sampleCpuS - sc0))
      }
      passes.toSeq
    }

    // warm-up: two full passes, so JIT and first-touch costs stay out of
    // the measured passes (pass time falls by about half from the first
    // pass to the second and by up to 12% more to the third, less than
    // the host's noise; a third warm-up pass does not fit the benchmark's
    // time budget)
    val untraced = new Harness(spark, new Tracer(spark, enabled = false))
    val warm = loop(untraced, 0, WarmPasses)(_ => w.pass(untraced)).map(_.wall)
    phase(s"warmed up: ${warm.map(x => f"$x%.2f").mkString(", ")} s")
    untraced.recording = true
    val host = mutable.LinkedHashMap[String, String](
      "nproc" -> Cores.toString,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "session" -> sessionConfig(Cores),
      "fixture_generated" -> gen.toString,
      "fixture_s" -> f"$fixtureS%.3f",
      "warmup_passes" -> warm.size.toString)

    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def tally(h: Harness): Unit = {
      attempted += h.attempted; failed += h.failed; failures ++= h.failures
    }

    if (!o.trace) {
      val passes = loop(untraced, budget, 2)(_ => w.pass(untraced))
      phase("measured")
      tally(untraced)
      val passS = median(passes.map(_.wall))
      result("pass_s") = passS
      result("rows_per_s") = rows / passS
      result("geomean_call_s") = geomean(untraced.calls.keys.toSeq.map(untraced.medianOf))
      result("pass_cpu_s") = median(passes.map(_.cpu))
      result("peak_heap_mb") = untraced.heapMb
      host("passes") = passes.size.toString
    } else {
      // a third of the time each, at least one pass: untraced passes,
      // traced passes, and the scaling pair's local[1] side; the layer
      // probes run in between
      val third = budget / 3
      val upasses = loop(untraced, third, 1)(_ => w.pass(untraced))
      tally(untraced)
      val untracedS = median(upasses.map(_.wall))
      val tracer = new Tracer(spark, enabled = true)
      val traced = new Harness(spark, tracer)
      traced.recording = true
      val tpasses = loop(traced, third, 1)(i => tracer(s"pass$i")(w.pass(traced)))
      tally(traced)
      val passSpans = tracer.spans.toSeq.filter(s => s.parent < 0 && s.name.startsWith("pass"))
      result ++= PerLayer.workload(tracer, passSpans, rows)
      result("pass.pinned_mb") = traced.pinnedMb
      val tracedS = median(tpasses.map(_.wall))
      result("trace.pass_s") = tracedS
      result("trace.overhead_s") = tracedS - untracedS
      phase("traced passes")
      val probeHarness = new Harness(spark, tracer)
      probeHarness.recording = true
      result ++= new PerLayer.Probes(fx, o.probeSkew.get, o.tables, work, expected, o.seed).run(probeHarness)
      tally(probeHarness)
      tracer.detach()
      Files.write(Paths.get(s"${o.out}/trace-${o.workload}-${o.seed}.jsonl"),
        tracer.json.mkString("", "\n", "\n").getBytes("UTF-8"))
      phase("layer probes")
      // scaling pair: the same pass at local[1] over 1/nproc of the input,
      // so each core sees the same input on both sides; both sides untraced
      spark.stop()
      spark = session(1, work)
      w.load(spark, share = Cores)
      val shareRows = w.rows
      val single = new Harness(spark, new Tracer(spark, enabled = false))
      single.recording = true
      val singlePasses = loop(single, third, 1)(_ => w.pass(single))
      tally(single)
      val rps1 = shareRows / median(singlePasses.map(_.wall))
      result("scaling_eff") = (rows / untracedS) / (Cores * rps1)
      host("scaling_pair") = s"1->$Cores"
      host("passes") = s"${upasses.size}+${tpasses.size}+${singlePasses.size}"
    }
    spark.stop()
    host("load_start") = f"$loadStart%.2f"
    host("load_end") = f"${os.getSystemLoadAverage}%.2f"

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val metrics = result.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
    val hostJson = host.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val fails = failures.take(20).map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'") + "\"")
    println(s"""RESULT {"attempted":$attempted,"failed":$failed,"metrics":{$metrics},""" +
      s""""host":{$hostJson},"failures":[${fails.mkString(",")}]}""")
  }
}
