package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every SURVEY §2 key to a (session, sfDir) => DataFrame;
  * `oracleSql` carries the DuckDB-equivalent SQL for every
  * SQL-expressible key (keys absent there get a rows-only check).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchQueries.q5LocalSupplier(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Every dispatch first runs [[GraftSession.ensureFunctions]], so the
    * dd_/ss_/ing_binary queries (which call graft's custom
    * Catalyst functions) work on ANY session — not only one built with
    * `spark.sql.extensions=graft.GraftExtensions`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val raw =
      TpchQueries.queries ++ TrafficQueries.queries ++ TextQueries.queries ++
        IngestQueries.queries ++ DedupQueries.queries ++
        SimilarityQueries.queries ++ GeoQueries.queries ++ MiscQueries.queries
    raw.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => fn(GraftSession.ensureFunctions(s), dir))
    }
  }

  /** Advertised quality floors for the rows-only (no-oracle) queries,
    * ENFORCED by Verify against each dump's self-audit column: map of
    * query -> (audit column, floor, true = value must be >= floor /
    * false = must be <= floor). A violating query's dump is withheld,
    * so a recall collapse fails the driver-visible rows gate instead
    * of passing as "some rows" (VERDICT r17 item 7). Floors mirror the
    * ScalaTest ones (RecallFloorSpec / RecallFloorSf1Spec) with the
    * same margins; measured sf0.01 values in the comment. */
  val auditFloors: Map[String, (String, Double, Boolean)] = Map(
    "dd_minhash_lsh"     -> (("recall", 0.95, true)),  // measured 1.00
    "dd_simhash"         -> (("recall", 0.80, true)),  // measured 0.88
    "dd_embedding_lsh"   -> (("recall", 0.80, true)),  // measured 0.93
    "ss_lsh_topk"        -> (("recall", 0.80, true)),  // measured 0.92
    "ss_ivf_topk"        -> (("recall", 0.85, true)),  // advertised; 0.92
    "st_ivf_serve"       -> (("recall", 0.85, true)),  // ≡ ss_ivf_topk path
    "ag_approx_distinct" -> (("rel_err", 0.05, false)),        // 0.000
    "ag_approx_quantile" -> (("median_rel_err", 0.02, false)), // 0.006
    "ag_approx_topk"     -> (("n_err", 0.5, false)))           // 0

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    TpchQueries.oracles ++ TrafficQueries.oracles ++ TextQueries.oracles ++
      IngestQueries.oracles ++ DedupQueries.oracles ++
      SimilarityQueries.oracles ++ GeoQueries.oracles ++ MiscQueries.oracles
}
