package graftbench

import java.nio.file.Files

/** Full-work analytic queries. Each cycle is one pass over the queries in
  * a fixed order: build the DataFrame, then write it to the `noop` sink,
  * which computes every output column (`count()` lets Catalyst prune the
  * columns it does not read). */
final class Queries(run: Run, data: String) extends Phase {
  private val (spark, tr) = (run.spark, run.tracer)
  private val dir = s"$data/tpch"
  private val out = run.dir("qout")

  /** Drop per-query session state between queries, as the engine's own
    * bench does. */
  private def clean(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Set-up: the cold pass, which builds the queries' cached fixtures and
    * warms the JIT. It writes each result for the oracle comparison. */
  def setup(): Unit = Queries.Names.foreach { q =>
    graft.SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/$q")
    clean()
  }

  def step(cycle: Int): Unit = Queries.Names.foreach { q =>
    val f = q.takeWhile(_ != '_')
    val df = tr.span(s"query.$f.build", q)(graft.SparkEntry.queries(q)(spark, dir))
    tr.span(s"query.$f.action", q)(df.write.format("noop").mode("overwrite").save())
    clean()
  }
}

object Queries {
  /** The six entries whose full-work cost `count()` hides, then the five
    * with the most Spark jobs. */
  val Names: Seq[String] = Seq(
    "fn_percentile", "cur_decontaminate_bloom", "rel_q16_approx_distinct",
    "fn_approx_percentile", "rel_q34_hll_merge_epochs", "cur_scrub",
    "dedup_pipeline_summary", "conn_cdf_preimages", "dedup_resolve_keepers",
    "rel_q37_market_share", "dedup_incremental")

  /** Each query's DuckDB oracle SQL, as `oracle_sql.json` in `dir`
    * (written whole: it appears by an atomic rename). */
  def writeOracles(dir: java.nio.file.Path): Unit = {
    val oracles = Names.map(q => s"${Json.str(q)}: ${Json.str(graft.SparkEntry.oracleSql(q))}")
    val tmp = dir.resolve("oracle_sql.json.tmp")
    Files.write(tmp, oracles.mkString("{", ",\n", "}").getBytes)
    Files.move(tmp, dir.resolve("oracle_sql.json"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
