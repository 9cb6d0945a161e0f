package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle as a test: `graft.Verify` dumps every query at sf0.01
  * in a child JVM (Verify stops its session, so it cannot share
  * SparkSpec's), then `tools/check.py` replays every `oracleSql` string in
  * DuckDB over the same tables and compares the dump cell by cell. */
class OracleSpec extends AnyFunSuite {
  private val SfDir = "/root/testdata/sf0.01"

  test("Verify + tools/check.py at sf0.01: every oracle matches") {
    val out = Files.createTempDirectory("graft_oracle_spec")
    try {
      val jvm = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("-agentlib")).toSeq
      val failures = Seq.newBuilder[String]
      val verifyRc = Process(
        Seq(jvm) ++ jvmArgs ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.Verify", SfDir, out.toString)
      ) ! ProcessLogger(_ => (), l => if (l.startsWith("[verify]")) failures += l)
      assert(verifyRc == 0, s"graft.Verify exited $verifyRc: ${failures.result().mkString("; ")}")

      // one builder per stream: the two callbacks run on separate threads
      val report, errors = Seq.newBuilder[String]
      val checkRc = Process(
        Seq("python3", Paths.get(sys.props("user.dir"), "tools", "check.py").toString, SfDir, out.toString)
      ) ! ProcessLogger(report += _, errors += _)
      val lines = report.result()
      val n = SparkEntry.oracleSql.size
      assert(
        checkRc == 0 && lines.contains(s"== $n/$n queries match =="),
        s"check.py exited $checkRc:\n" +
          (lines.filterNot(_.startsWith("OK ")) ++ errors.result()).mkString("\n"))
    } finally new scala.reflect.io.Directory(out.toFile).deleteRecursively()
  }
}
