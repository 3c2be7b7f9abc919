package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.catalog.Catalog
/** Driver-run correctness dump: each catalog query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only — the driver passes two):
    // comma-separated query names to dump instead of the full surface
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Bench.session("graft-verify",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes each catalog query over `sfDir` (all, or those named in
    * `only`) to `outDir/<name>/` as one parquet file, and the oracles of
    * those queries to `outDir/oracle_sql.json`. A query that fails is
    * logged and its directory removed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    val dumped = Catalog.all.filter(q => only.forall(_.contains(q.name)))
    dumped.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        // remove any PREVIOUS run's output for this query — leaving it
        // would let the oracle compare validate stale results as a pass
        val dir = new java.io.File(s"$outDir/${q.name}")
        if (dir.exists) deleteRec(dir)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = dumped.flatMap(x => x.oracle.map(sql => s"${q(x.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
