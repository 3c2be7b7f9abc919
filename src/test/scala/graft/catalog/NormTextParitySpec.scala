package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import scala.sys.process.{Process, ProcessLogger}
import graft.SparkTestSession
import graft.lid.TextStats
import graft.operators.Dedup

/** The text normalization of the dedup tiers has one definition per
  * engine: `TextStats.normText` (JVM), `Dedup.normText` (Spark column)
  * and `Sql.normText` (the DuckDB oracles). This pins the three equal on
  * edge strings, and the code-point shingles and shingle hashes cut from
  * them equal to the oracles' `Sql.shingles` and `Sql.fnv1a64`. DuckDB
  * runs through python3; a missing python3 or duckdb fails the test, it
  * never skips. */
class NormTextParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val planted = "der gemeinderat hat das neue budget 😀 gestern abend beschlossen"
  private val texts: Seq[String] = Seq(null, "", " ", "   ", "\t \n",
    "\tHello  World\n", " a\u000Bb ", "\fX\r", "\u0001x", "x😀y", "😀😀😀",
    "ÀÉÎÕÜ Ñandú ÇA ÆØ", "ab",
    // the planted near-dup pair of the verified MinHash tier
    "\t" + planted + "\n", planted.replace("gestern", "heute") + " \u000B")
  private val pair = (texts.length - 2).toLong -> (texts.length - 1).toLong

  /** Runs each `name -> sql` over a DuckDB view `documents` of `dir/docs`
    * and reads the result `dir/name.parquet` back. */
  private def duck(dir: String, sqls: Map[String, String]): Map[String, Array[org.apache.spark.sql.Row]] = {
    sqls.foreach { case (name, sql) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name.sql"), sql)
    }
    val script =
      """import sys, glob, os, duckdb
        |d = sys.argv[1]
        |con = duckdb.connect()
        |con.sql(f"CREATE VIEW documents AS SELECT * FROM '{d}/docs/*.parquet'")
        |for f in sorted(glob.glob(f"{d}/*.sql")):
        |    name = os.path.basename(f)[:-4]
        |    con.sql(f"COPY ({open(f).read()}) TO '{d}/{name}.parquet' (FORMAT parquet)")
        |""".stripMargin
    val log = new StringBuilder
    val rc = Process(Seq("python3", "-c", script, dir)).!(ProcessLogger(
      l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    assert(rc == 0, s"duckdb run exited $rc:\n$log")
    sqls.keys.map(k => k -> spark.read.parquet(s"$dir/$k.parquet").collect()).toMap
  }

  private def show(s: String): String =
    if (s == null) "null"
    else s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  test("one normalization: JVM, Spark and DuckDB agree on the text, its " +
      "code-point shingles, their FNV hashes and the verified MinHash Jaccard") {
    val spark = this.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("norm-parity").toFile
    try {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      docs.coalesce(1).write.parquet(s"$dir/docs")
      def shSql(n: Int) =
        s"""WITH docs AS (SELECT doc_id, ${Sql.normText("text")} AS t FROM documents),
            sh AS (${Sql.shingles("docs", n, cond = "length(t) > 0")})
            SELECT doc_id, s, CAST(${Sql.fnv1a64("s")} AS VARCHAR) AS h FROM sh"""
      val out = duck(dir.getPath, Map(
        "norm" -> s"SELECT doc_id, ${Sql.normText("text")} AS t FROM documents",
        "sh3" -> shSql(3), "sh5" -> shSql(5)))

      val duckNorm = out("norm").map(r => r.getLong(0) -> r.getString(1)).toMap
      val sparkNorm = docs.select(col("doc_id"), Dedup.normText(col("text")))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val jvm = TextStats.normText(t)
        assert(sparkNorm(i.toLong) == jvm && duckNorm(i.toLong) == jvm,
          s"text ${show(t)}: jvm ${show(jvm)} spark ${show(sparkNorm(i.toLong))} " +
            s"duckdb ${show(duckNorm(i.toLong))}")
      }

      def sets(n: Int) = {
        val rows = out(s"sh$n").groupBy(_.getLong(0))
        (rows.map { case (id, rs) => id -> rs.map(_.getString(1)).toSet },
          rows.map { case (id, rs) =>
            id -> rs.map(r => java.lang.Long.parseUnsignedLong(r.getString(2))).toSet })
      }
      for (n <- Seq(3, 5)) {
        val (shs, hs) = sets(n)
        texts.zipWithIndex.foreach { case (t, i) =>
          val id = i.toLong
          assert(TextStats.shingles(t, n) == shs.getOrElse(id, Set.empty),
            s"n=$n shingles of ${show(t)}")
          assert(TextStats.shingleHashes(t, n).toSet == hs.getOrElse(id, Set.empty),
            s"n=$n shingle hashes of ${show(t)}")
        }
      }

      // the verified tier's Jaccard is the oracle's, over DuckDB's 5-shingles
      val (sh5, _) = sets(5)
      def oracleJ(a: Long, b: Long) = {
        val (x, y) = (sh5(a), sh5(b))
        TextStats.roundTo(x.intersect(y).size.toDouble / x.union(y).size, 4)
      }
      val verified = Dedup.minHashLshVerified(docs, "doc_id", "text",
        n = 5, numHashes = 64, bands = 32, candidateThreshold = 0.3,
        threshold = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(verified.contains(pair), s"planted pair missing: $verified")
      verified.foreach { case ((a, b), j) =>
        assert(j == oracleJ(a, b), s"($a, $b): $j vs oracle ${oracleJ(a, b)}")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }
}
