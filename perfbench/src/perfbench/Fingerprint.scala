package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output fingerprint: `rows:sum:columns`, where sum
  * adds a 40-bit slice of the xxhash64 of every row over all columns
  * (exact decimal arithmetic, so no overflow), and columns hashes the
  * column names. Computed by its own job, never inside a timed op.
  */
object Fingerprint {

  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.bitwiseAND(lit(0xFFFFFFFFFFL)).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val sumStr = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val names = df.schema.fields.map(_.name).mkString(",").hashCode
    s"${r.getLong(0)}:$sumStr:${Integer.toHexString(names)}"
  }

  /** The deliberate fault of the output-check test: drops about one
    * row in five, keeping schema and order.
    */
  def corrupt(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    df.filter(pmod(xxhash64(cols: _*), lit(5L)) =!= 0)
  }
}

/** Expected fingerprints committed with the benchmark, in
  * perfbench/expected/<workload>.json: a flat `{"query": "fp"}` object
  * for relational, and `{"<variant>": {"query": "fp"}}` for corpus.
  */
object Expected {
  var dir = "perfbench/expected"

  def load(workload: String, variant: Int): Map[String, String] = {
    val p = Paths.get(dir, s"$workload.json")
    if (!Files.exists(p)) Map.empty
    else {
      val all = Json.parse(Files.readString(p))
      val m = if (variant >= 0) all.getOrElse(variant.toString, Map.empty) else all
      m.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
    }
  }
}
