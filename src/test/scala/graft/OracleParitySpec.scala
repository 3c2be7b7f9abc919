package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process.{Process, ProcessLogger}

/** Every oracle query, value for value against its DuckDB oracle on the
  * sf0.001 fixtures: `Verify.dump`, then `scripts/compare_oracle.py`
  * (exit 1 on any mismatch). A missing python3 or duckdb fails the test;
  * it never skips. */
class OracleParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("all 70 oracle queries match DuckDB at sf0.001") {
    val out = java.nio.file.Files.createTempDirectory("oracle-parity").toFile
    try {
      Verify.dump(spark, sf, out.getPath, Some(SparkEntry.oracleSql.keySet))
      val log = new StringBuilder
      val rc = Process(Seq("python3", "scripts/compare_oracle.py", sf,
        out.getPath)).!(ProcessLogger(l => log.append(l).append('\n'),
        l => log.append(l).append('\n')))
      assert(rc == 0, s"compare_oracle.py exited $rc:\n$log")
      assert(log.toString.contains("70 ok, 0 fail"), log.toString)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(out)
    }
  }
}
