package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A query workload: a pinned list of registered queries over the
  * fixture, in an order the seed permutes. A pass runs each query once:
  * the registry builder (`operators.build`), then every column of the
  * result written to parquet. `run.py` compares the files of the last
  * pass with each query's DuckDB oracle from `SparkEntry.oracleSql`, or
  * requires rows when the query has none. */
final class Queries(names: Seq[String]) extends Workload {
  final class State(val spark: SparkSession, val a: Args,
      val order: Seq[String]) {
    val checkDir = a.out.resolve("check")
  }

  /** The fixture's schemas, as every query's first step resolves them. */
  def setup(spark: SparkSession, a: Args): State = {
    Queries.tables.foreach(t => spark.read.parquet(s"${a.fixture}/$t.parquet"))
    new State(spark, a, new scala.util.Random(a.seed).shuffle(names))
  }

  def teardown(st: State): Unit = ()

  /** Warm-up: one small parquet read, shuffle and write, so the first
    * query in the seed's order does not also pay for the first use of
    * those paths. Then the checks' inputs. */
  def prepare(st: State, out: Outcome): Unit = {
    st.spark.read.parquet(s"${st.a.fixture}/nation.parquet")
      .groupBy("n_regionkey").count().write.mode("overwrite")
      .parquet(st.a.out.resolve("warmup").toString)
    Files.createDirectories(st.checkDir)
    names.filterNot(SparkEntry.queries.contains).foreach { n =>
      out.check(ok = false, s"query $n is not registered")
    }
    val oracles = SparkEntry.oracleSql
    Files.write(st.checkDir.resolve("oracle_sql.json"), Json(
      names.flatMap(n => oracles.get(n).map(n -> _)).toMap)
      .getBytes("UTF-8"))
  }

  def pass(st: State, p: Int, tr: Trace, out: Outcome): Unit =
    st.order.filter(SparkEntry.queries.contains).foreach { name =>
      val request = s"query:$name:$p"
      val res = Layers.timed(out, tr, "query", name, p) {
        val df = tr.span(request, "operators.build") {
          SparkEntry.queries(name)(st.spark, st.a.fixture)
        }
        df.write.mode("overwrite").parquet(st.checkDir.resolve(name).toString)
      }
      // untimed: no query runs against another query's cached data
      st.spark.sharedState.cacheManager.clearCache()
      res.foreach { case (_, counters, wall) =>
        counters.foreach { c =>
          val sample = Layers.exec(c, wall) +
            ("operators.build_s" -> tr.spanSeconds(request, "operators.build"))
          out.layerSamples += sample
          // each query's own split, for the runner's `context` line
          if (p == 0) out.extra(s"split.$name") = Layers.split(sample)
        }
      }
    }
}

object Queries {
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One query per family, chosen by a traced pass over every query of
    * the families (perfbench/README.md, "Query selection"): among the
    * family's queries whose split clearly fits the workload, the one with
    * the median wall time. A query fits `Tabular` when its driver gap is
    * at least 1.2 times its executor task time, and `Llm` when its task
    * time is at least 1.2 times its driver gap. The `Incremental`,
    * `StreamDedup` and `Privacy` families have no query that fits, and
    * `Enrich`'s one query fits warm but not in this benchmark's cold
    * traced runs, so these families are not run. Pinned by name. */
  val Tabular = new Queries(Seq(
    "q_json_variant", // Relational
    "q12_shipmode", // TpchFull
    "q_stats_autocorr", // Stats
    "q_cusum_daily", // Quant
    "q_funnel_latency", // Cohort
    "q_link_pagerank", // Graph
    "q_join_skew_salted", // Skew
    "q_scrape_deletions", // Scrape
    "q_stream_tumbling", // EventWindows
    "q_stream_join", // StreamJoin
  ))

  /** The LLM-pipeline kernels, by the rule above. */
  val Llm = new Queries(Seq(
    "q_text_repetition", // TextAnalysis
    "q_sim_topk_agg", // Similarity
    "q_dedup_simhash_recall", // Dedup
    "q_multimodal_imagedup", // Multimodal
    "q_mix_reweight", // Selection
    "q_corpus_curate", // Pipeline
    "q_capstone_hybrid", // Capstone
  ))
}
