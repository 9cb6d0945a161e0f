package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of every column of a DataFrame.
  *
  * Consuming an output through a digest forces every column to be computed;
  * a bare `count()` lets Catalyst prune UDF and window columns. Floats are
  * rounded to 4 decimals (and -0.0 folded into 0.0) so a change of
  * summation order inside the engine does not read as a wrong result. */
object Digest {

  val Places = 4

  private def canon(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType => round(c.cast(DoubleType), Places) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** 64-bit hash of one row over every column, in schema order. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)

  /** Aggregate columns `n`, `hi`, `lo`: the row count and the sums of the
    * two 32-bit halves of every row hash. Sums (unlike xor) also see
    * duplicated rows; 32-bit halves cannot overflow a long. */
  def aggs(h: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
    coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"))

  /** Plan that digests all of `df` into one row (n, hi, lo). */
  def whole(df: DataFrame): DataFrame = {
    val a = aggs(rowHash(df))
    df.agg(a.head, a.tail: _*)
  }

  /** Plan that digests `df` per value of `key`: rows (key, n, hi, lo). */
  def byKey(df: DataFrame, key: String): DataFrame = {
    val a = aggs(rowHash(df))
    df.groupBy(col(key).cast(StringType).as("key")).agg(a.head, a.tail: _*)
  }

  def format(n: Long, hi: Long, lo: Long): String = f"$n:$hi%x:$lo%x"
}
