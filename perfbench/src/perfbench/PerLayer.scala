package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.codec.ImageCodec
import graft.ops.{AsOfJoin, BucketedWindows, Resume, Windows}
import graft.pipeline.FeaturePipeline

import Main.{Harness, median, release}

/** Per-layer metrics of a traced run: counters of the workload's own
  * passes, plus each layer timed alone over a small staged input. */
object PerLayer {

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Every span below `root`, `root` included. */
  def subtree(t: Tracer, root: Span): Seq[Span] = {
    val kids = t.spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }

  /** Counter totals over the given spans. */
  final case class Totals(spans: Seq[Span]) {
    def jobs: Double = spans.map(_.jobs).sum
    def stages: Double = spans.map(_.stages).sum
    def tasks: Double = spans.map(_.tasks).sum
    def busyS: Double = spans.map(_.runMs).sum / 1000.0
    def gcMs: Double = spans.map(_.gcMs).sum
    def input: Double = spans.map(_.inputRecords).sum
    def shuffleBytes: Double = spans.map(_.shuffleWriteBytes).sum
    def spill: Double = spans.map(_.spillBytes).sum
    def maxTaskRows: Double = spans.map(_.maxTaskRecords).maxOption.getOrElse(0L).toDouble
    /** max ÷ median task time of the stage whose biggest task read the most records */
    def maxMedianRatio: Double = {
      val h = spans.map(_.heaviest).maxBy(_._4)
      if (h._3 > 0) h._2.toDouble / h._3 else h._2.toDouble
    }
  }

  /** Per-pass averages over the traced passes of the workload. */
  def workload(t: Tracer, passes: Seq[Span], rows: Long): Seq[(String, Double)] = {
    val n = passes.size.toDouble
    val all = Totals(passes.flatMap(subtree(t, _)))
    val wall = passes.map(_.seconds).sum
    val plan = t.spans.filter(s => s.name.endsWith(".plan") && passes.exists(p => subtree(t, p).contains(s)))
      .map(_.seconds).sum
    val calls = passes.flatMap(p => t.spans.filter(_.parent == p.id)).map(_.seconds).sum
    Seq(
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.busy_s" -> all.busyS / n,
      "spark.gc_ms" -> all.gcMs / n,
      "spark.shuffle_write_bytes" -> all.shuffleBytes / n,
      "spark.spill_bytes" -> all.spill / n,
      "pass.plan_s" -> plan / n,
      "pass.exec_s" -> (wall - plan) / n,
      "pass.scan_reads_per_row" -> all.input / n / rows,
      "pass.max_task_rows" -> all.maxTaskRows,
      "pass.max_median_task_ratio" -> all.maxMedianRatio,
      "pass.layer_coverage" -> calls / wall)
  }

  /** Each layer alone over a staged input drawn from the seed: two image
    * entities (decoded once and pinned for the feature layer), a small
    * hot-entity numeric table read from parquet, the resume cycle over the
    * two entities, and the query suite once. */
  final class Probes(fx: String, skew: String, tables: String, work: String, expected: String, seed: Long) {

    def run(h: Harness): Seq[(String, Double)] = {
      val spark = h.spark
      val t = h.tracer
      Fixtures.universe(spark, fx)
      // two entities: enough rows for every layer, and the traced run stays
      // well inside its time limit
      val images = Fixtures.images(spark, fx, Fixtures.pickEntities(seed + 1, 2))
      val frames = images.count().toDouble
      val build = spark.read.parquet(s"$skew/build")
      val skewProbes = spark.read.parquet(s"$skew/probes").withColumnRenamed("v", "pv").drop("pv0")
      val skewRows = (build.count() + skewProbes.count()).toDouble
      val width = Fixtures.Span / (Main.Cores * 8)
      val out = mutable.LinkedHashMap.empty[String, Double]
      def totals(name: String) = Totals(t.named(name).flatMap(subtree(t, _)).distinct)
      def secs(name: String) = median(t.spans.filter(_.name == name).map(_.seconds).toSeq)

      h.query("codec")(Digest.whole(images.select(
        ImageCodec.imageFeaturesCol(col("bytes"), FeaturePipeline.ResizeTo, FeaturePipeline.CropTo))))
      out("codec.rows_per_s") = frames / secs("codec")

      val ff = FeaturePipeline.frameFeatures(images).localCheckpoint(eager = true)
      h.query("feats")(Digest.whole(FeaturePipeline.secondFeatures(ff, Windows.FloorTail)))
      out("feats.busy_s") = totals("feats").busyS

      h.query("windows")(Digest.whole(BucketedWindows.frameWindows(
        build, "entity", "ts", width, 5L, locfCols = Seq("pv0"), lagCols = Seq("v"))))
      val w = totals("windows")
      out("windows.busy_s") = w.busyS
      out("windows.shuffle_bytes") = w.shuffleBytes
      out("windows.max_task_rows") = w.maxTaskRows

      val b = build.drop("pv0")
      h.query("asof")(Digest.whole(AsOfJoin.asOf(skewProbes, b, "entity", "ts", Seq("v"), width)))
      val a = totals("asof")
      out("asof.busy_s") = a.busyS
      out("asof.max_task_rows") = a.maxTaskRows
      out("asof.max_median_task_ratio") = a.maxMedianRatio
      out("asof.shuffle_bytes") = a.shuffleBytes
      h.query("asof_one_bucket")(Digest.whole(
        AsOfJoin.asOf(skewProbes, b, "entity", "ts", Seq("v"), Fixtures.Span * 10)))
      out("asof.one_bucket_s") = secs("asof_one_bucket")
      h.query("asof_merge")(Digest.whole(AsOfJoin.asOfMerge(skewProbes, b, "entity", "ts", Seq("v"), width)))
      out("asof_merge.scan_reads_per_row") = totals("asof_merge").input / skewRows

      // the write path: the feature plan through processPending in a bulk,
      // an incremental and a no-op call, each planned afresh after the
      // persisted blocks are dropped, as a restarted job would; then audited
      val target = s"$work/probe-resume"
      def write(name: String, snapshot: Long, max: Int, want: Long): Unit = {
        release(spark)
        h.timed(name)(Resume.processPending(spark, FeaturePipeline.frameFeatures(images),
          "entity", "ts", "vec", target, snapshot, max))
          .foreach(n => h.check(name, n == want, s"$n partitions written, expected $want"))
      }
      write("resume.bulk", 1L, 1, 1)
      write("resume.incremental", 2L, Int.MaxValue, 1)
      write("resume.noop", 3L, Int.MaxValue, 0)
      h.query("resume.audit") {
        val bad = Resume.audit(spark, target, "entity", "ts", "vec").agg(count(lit(1)).as("bad"))
        Resume.readManifest(spark, target).agg(sum("rowCount").as("rows")).crossJoin(bad)
      }.foreach { r =>
        val (bad, rows) = (r.head.getAs[Long]("bad"), r.head.getAs[Long]("rows"))
        h.check("resume.audit", bad == 0, s"$bad partitions fail the audit")
        h.check("resume.audit", rows == frames, s"manifest rows $rows != feature rows $frames")
      }
      release(spark)
      val files = Option(new File(s"$target/data").listFiles).toSeq.flatten
        .flatMap(d => Option(d.listFiles).toSeq.flatten).filter(_.getName.endsWith(".parquet"))
      for (c <- Seq("bulk", "incremental", "noop", "audit")) out(s"resume.${c}_s") = secs(s"resume.$c")
      out("resume.scan_reads_per_pending_row") = totals("resume").input / frames
      out("resume.files_written") = files.size
      out("resume.bytes_per_row") = files.map(_.length).sum / frames
      deleteTree(target)

      // the query suite, once, split by engine module
      val suite = new Main.QuerySuite(tables, expected, seed, all = false)
      suite.load(spark, share = 1)
      suite.pass(h)
      for (q <- suite.names) out(s"q.${q}_s") = secs(s"q.$q")
      for ((m, q) <- Main.SuiteQueries) {
        out(s"entry.$m.plan_s") = secs(s"q.$q.plan")
        out(s"entry.$m.exec_s") = secs(s"q.$q") - secs(s"q.$q.plan")
      }
      out.toSeq
    }
  }
}
