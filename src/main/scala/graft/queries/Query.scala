package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its build over a directory of parquet
  * tables, and its DuckDB oracle — SQL over the same tables that returns the
  * same rows. `None` marks an operator no SQL can replay (model/RNG-bound,
  * xxhash64-specific or binary media), which gets a rows-only check. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracle: Option[String])

object Query {
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private[queries] val liFeatures = Seq("l_quantity", "l_discount", "l_tax")
}
