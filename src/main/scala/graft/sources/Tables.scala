package graft.sources

import org.apache.spark.sql.SparkSession

/** The driver's parquet testdata tables (TESTDATA.md): one parquet file per
  * table, read by [[graft.queries.Parity.t]].
  *
  * `schemas` declares each table's schema as DDL, the types and nullability
  * its parquet footer carries (timestamps without a time zone read as
  * TIMESTAMP_NTZ), so a read takes its schema from here instead of opening
  * a footer to infer one, which is a job outside any query. Filters and
  * projections declared downstream still push into the scan (check
  * `.explain("formatted")`: PushedFilters / ReadSchema).
  */
object Tables {
  val schemas: Map[String, String] = Map(
    "region" -> "r_regionkey int, r_name string",
    "nation" -> "n_nationkey int, n_name string, n_regionkey int",
    "customer" ->
      "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    "supplier" -> "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    "part" -> ("p_partkey long, p_name string, p_brand string, p_type string, " +
      "p_size int, p_retailprice double"),
    "orders" -> ("o_orderkey long, o_custkey long, o_orderstatus string, " +
      "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"),
    "lineitem" -> ("l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, " +
      "l_quantity double, l_extendedprice double, l_discount double, l_tax double, " +
      "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"),
    "documents" -> "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings" -> "vec_id long, embedding array<float>, label int")

  /** Register every testdata table as a temp view and the graft SQL
    * functions (vec_dot/vec_cosine), making the whole engine surface
    * reachable from `spark.sql` — the role Trino plays over the
    * reference's Iceberg tables (SURVEY §3.4) is played here by Spark's
    * own SQL front end over the same data.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    for (n <- schemas.keys.toSeq :+ "events")
      graft.queries.Parity.t(spark, sfDir, n).createOrReplaceTempView(n)
    graft.functions.VectorFunctions.register(spark)
  }
}
