package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one way the engine builds its `SparkSession`. Every main and the
  * test base come through here, so every session installs
  * [[GraftExtensions]] and every native operator has exactly one plan:
  * operators call the graft functions by name and keep no fallback.
  *
  * Two shapes:
  *  - [[local]]: `local[cpus]`, `cpus` shuffle partitions, UTC session
  *    time zone, UI off — the dev, verify, bench and test session;
  *  - [[cluster]]: no master (spark-submit supplies it), AQE with skew-join
  *    handling, both as session confs a submit-time `--conf` overrides.
  *
  * Both fail fast through [[requireExtensions]]: `getOrCreate` hands back
  * an already-running session unchanged, and one built without the
  * extensions would otherwise fail mid-query on the first native call.
  * A session built elsewhere (an embedding application) must set
  * `spark.sql.extensions=graft.GraftExtensions` itself.
  */
object Session {

  /** Every function [[GraftExtensions]] registers by name. */
  val graftFunctions: Seq[String] = Seq(
    "cosine_sim", "cosine_prefixes", "ordered_pairs", "hashed_shingles",
    "minhash_plan", "shingle_seq", "simhash48", "bounded_collect_list",
    "misra_gries", "nfc_normalize", "gram_matrix", "jl_sign_project",
    "nearest_cell")

  /** Local session over `cpus` cores. `extra` confs are set last (BenchOne's
    * event log). */
  def local(cpus: String, extra: (String, String)*): SparkSession =
    build(Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra)

  /** Cluster-shaped session: master, shuffle partitions and memory come
    * from spark-submit / cluster defaults. */
  def cluster(appName: String): SparkSession =
    build(Seq(
      "spark.app.name" -> appName,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true"))

  private def build(confs: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
    confs.foreach { case (k, v) => b.config(k, v) }
    requireExtensions(b.getOrCreate())
  }

  /** `spark`, if its function registry resolves every graft function;
    * otherwise an `IllegalStateException` naming the missing ones. */
  def requireExtensions(spark: SparkSession): SparkSession = {
    val registry = spark.sessionState.functionRegistry
    val missing = graftFunctions.filter(n =>
      registry.lookupFunction(FunctionIdentifier(n)).isEmpty)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"session does not resolve the graft functions ${missing.mkString(", ")}: " +
        "build it with graft.Session, or set " +
        "spark.sql.extensions=graft.GraftExtensions before the first " +
        "SparkSession is created")
    spark
  }
}
