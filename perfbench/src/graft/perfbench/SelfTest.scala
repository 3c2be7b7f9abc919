package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the harness's own digest, run by perfbench/tests:
  * order and partitioning never change it; a dropped, duplicated or
  * edited row always does; the driver-side fold agrees with the Spark
  * one. Exits non-zero on the first failed check. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    var failures = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    try {
      val rows = (0 until 200).map(i => (i.toLong, if (i % 7 == 0) null else s"t$i",
        Map(s"k${i % 3}" -> i.toLong, "z" -> 1L), Seq(i.toDouble, -0.5)))
      val df = rows.toDF("id", "s", "m", "a")
      val d = Digest.of(df)
      check("reordered rows", Digest.of(rows.reverse.toDF("id", "s", "m", "a")) == d)
      check("repartitioned", Digest.of(df.repartition(7, $"s")) == d)
      check("sorted", Digest.of(df.orderBy($"id".desc)) == d)
      // a map's entry order is not content
      val flipped = rows.map { case (i, s, m, a) => (i, s, scala.collection.immutable.ListMap(m.toSeq.reverse: _*).toMap, a) }
      check("map entry order", Digest.of(flipped.toDF("id", "s", "m", "a")) == d)
      check("dropped row", Digest.of(df.filter($"id" =!= 5)) != d)
      check("duplicated row", Digest.of(df.union(df.filter($"id" === 5))) != d)
      check("edited value", Digest.of(df.withColumn("s",
        when($"id" === 5, lit("x")).otherwise($"s"))) != d)
      check("empty frame", Digest.of(df.limit(0)).rows == 0)
      val hs = df.select(Digest.rowHash(df)).as[Long].collect()
      check("driver-side fold", Digest.ofHashes(hs.iterator) == d)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
