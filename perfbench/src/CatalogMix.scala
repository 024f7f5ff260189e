package perfbench

import graft.SparkEntry
import graft.util.Caches

/** The catalog layer's figures: one pass over a fixed list of catalog
  * queries, each materialised as parquet that the checker reads. It runs
  * in the traced run of `stream_scoreboard`, after the measured rounds, so
  * it costs the untraced runs nothing (see README.md, *Run length*). */
object CatalogMix {
  /** (query, family): one query per non-streaming family that runs on the
    * generated tables, the two holding `Caches.pin` sites (q153, q206)
    * among them. See README.md for why each is in. */
  val Queries: Seq[(String, String)] = Seq(
    "q01_pricing_agg" -> "reference",
    "q149_cube_distinct" -> "relational",
    "q99_rfm_segments" -> "analytics",
    "q153_star_components" -> "dedup",
    "q206_count_min" -> "sampling",
    "q27_cosine_topk" -> "ann")

  def run(c: Ctx, in: String): Unit = {
    val spark = c.spark
    val qs = SparkEntry.queries
    val check = s"${c.work}/catalog"
    var persisted = 0L
    Queries.foreach { case (n, fam) =>
      c.trace.span(s"catalog.$fam") {
        qs(n)(spark, in).write.mode("overwrite").parquet(s"$check/$n")
      }
      // pins still held when the query is done, before the release
      persisted += spark.sparkContext.getPersistentRDDs.size
      Caches.releaseAll()
    }
    val res = c.res
    res.metric("catalog.persisted_rdds", persisted.toDouble, "count")
    Queries.foreach { case (_, f) =>
      val ss = c.trace.named(s"catalog.$f")
      val js = c.trace.jobsIn(ss)
      res.metric(s"catalog.$f.ms", ss.map(_.ms).sum, "ms")
      res.metric(s"catalog.$f.jobs", js.size.toDouble, "count")
      res.metric(s"catalog.$f.outside_jobs_ms", c.trace.outsideJobsMs(ss, js), "ms")
      res.metric(s"catalog.$f.task_cpu_ms", js.map(_.cpuNs).sum / 1e6, "ms")
      res.metric(s"catalog.$f.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble, "bytes")
    }
    val oracle = SparkEntry.oracleSql
    res.put("catalog", s"""{"in":${Results.jsonString(in)},"check":${Results.jsonString(check)},"oracle":""" +
      Queries.map { case (n, _) =>
        Results.jsonString(n) + ":" + oracle.get(n).fold("null")(Results.jsonString)
      }.mkString("{", ",", "}") + "}")
  }
}
