package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent multiset digest of a frame's rows: the row count plus
  * the sums of the low and high 32-bit halves of each row's xxhash64 and
  * their xor. Equal row multisets give equal digests whatever the
  * partitioning; dropping, adding or changing one row changes it.
  */
final case class Digest(rows: Long, lo: Long, hi: Long, xor: Long) {
  override def toString: String = s"$rows:$lo:$hi:$xor"
}

object Digest {
  val TripleCols: Seq[String] = Seq("subj", "pred", "obj")

  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val h = col("h")
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(h, 32)), bit_xor(h))
      .head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Digest(l(0), l(1), l(2), l(3))
  }

  def triples(df: DataFrame): Digest = of(df, TripleCols)

  def parse(s: String): Digest = s.trim.split(":").map(_.toLong) match {
    case Array(n, lo, hi, x) => Digest(n, lo, hi, x)
    case _ => throw new IllegalArgumentException(s"bad digest '$s'")
  }
}
