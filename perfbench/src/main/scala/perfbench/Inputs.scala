package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Input tables the workloads read, written under the benchmark's work
  * directory during set-up.
  */
object Inputs {

  /** The four `lineitem` columns the engine's TPC-H graph derivations read,
    * generated by the TPC-H dbgen rules at scale factor `sf`:
    * 1,500,000·sf orders of 1–7 lines each, part keys uniform over
    * 200,000·sf parts, each part's supplier one of its four dbgen suppliers
    * among 10,000·sf, quantity uniform over 1–50. The generator seed is
    * fixed: the TPC-H input is the same on every benchmark seed.
    */
  def writeLineitem(spark: SparkSession, dir: String, sf: Double): Long = {
    val orders = (1500000 * sf).toInt
    val parts = (200000 * sf).toInt
    val supps = math.max(4, (10000 * sf).toInt)
    val rnd = new java.util.SplittableRandom(19920101L)
    val rows = ArrayBuffer.empty[(Long, Long, Long, Double)]
    for (o <- 1 to orders; _ <- 0 until 1 + rnd.nextInt(7)) {
      val p = 1L + rnd.nextInt(parts)
      val i = rnd.nextInt(4)
      val s = (p + i * (supps / 4 + (p - 1) / supps)) % supps + 1
      rows += ((o.toLong, p, s, (1 + rnd.nextInt(50)).toDouble))
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    rows.size.toLong
  }

  /** A `lineitem` table of `rows` rows: the files table reads only its row
    * count, and generates |lineitem| / 2 file rows from it.
    */
  def writeRowCount(spark: SparkSession, dir: String, rows: Long): Unit =
    spark.range(rows).toDF("l_orderkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
}
