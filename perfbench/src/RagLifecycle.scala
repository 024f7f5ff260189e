package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.TextAnalysis
import graft.util.{Caches, GenStore}

/** The two-store RAG lifecycle (q304's protocol, scaled up): ordered delta
  * files of the documents ⋈ embeddings corpus are ingested one per
  * micro-batch by `TextAnalysis.ingestPostingsStream`; before each batch
  * the committed prefix is published as a new generation
  * (`publishHybridGeneration`), after it a fixed query set is served from
  * the live generation (`GenStore.currentPath` → `readHybridCorpus` →
  * `hybridRrfTopKFromQueryFreqs`). One round = one lifecycle into a fresh
  * store, ending with an at-rest publish and a last serve. An untimed
  * warm-up lifecycle over the first delta file alone comes first. */
object RagLifecycle {
  val Queries = 6 // documents 0..5 are the queries; they ride in slice 0

  final case class Round(serves: Seq[(Long, Int)], out: String,
      root: String, ingests: Seq[Span], streamName: String, genBytes: Double)

  def lifecycle(c: Ctx, name: String, slicesDir: String): Round = {
    val spark = c.spark
    val dir = s"${c.work}/$name"
    val live = s"$dir/live"
    val root = s"$dir/gens"
    val out = s"$dir/serves"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = spark.read.parquet(s"${c.in}/documents.parquet")
    val emb = spark.read.parquet(s"${c.in}/embeddings.parquet")
    val queries = docs.where(col("doc_id") < Queries)
      .select(col("doc_id").as("q_id"), col("text"))
      .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
    // generation-independent query frames, read by every serve
    val qtf = Caches.pin(TextAnalysis.queryTermFreqs(queries, "text"))
    val qvec = Caches.pin(queries.select(col("q_id"), col("embedding")))
    val committed = mutable.Map.empty[Long, Int] // stage → slices committed
    val ingests = mutable.ArrayBuffer.empty[Span]
    var ingest: Option[c.trace.Open] = None
    var genBytes = 0.0 // bytes of every generation published

    def publish(below: Option[Long]): Unit = {
      val published = c.trace.span("util.genstore.publish", below.getOrElse(-1L)) {
        TextAnalysis.publishHybridGeneration(spark, live, root,
          "doc_id", "text", "vec_id", "embedding", deltaBelow = below)
      }
      if (published && c.trace.enabled)
        genBytes += Du.bytes(GenStore.currentPath(fs, root).get.toString)
    }
    def serve(stage: Long, slices: Int): Unit = c.trace.span("ext.text.serve", stage) {
      committed(stage) = slices
      GenStore.currentPath(fs, root).foreach { gen =>
        val hc = c.trace.span("ext.text.read_corpus", stage) {
          TextAnalysis.readHybridCorpus(spark, gen.toString,
            "doc_id", "text", "vec_id", "embedding")
        }
        c.trace.span("ext.text.rrf", stage) {
          TextAnalysis.hybridRrfTopKFromQueryFreqs(hc, qtf, qvec,
              kArm = 10, kOut = 5, nTerms = 4)
            .withColumn("stage", lit(stage))
            .write.mode("append").parquet(out)
        }
      }
    }

    c.trace.span("streaming") {
      TextAnalysis.ingestPostingsStream(
          spark.readStream.schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1).parquet(slicesDir),
          "doc_id", "text", "vec_id", "embedding", live,
          beforeBatch = b => {
            publish(Some(b))
            ingest = Some(c.trace.open("ext.text.ingest", b))
          },
          afterBatch = b => {
            ingest.foreach(o => ingests += c.trace.close(o))
            ingest = None
            // the batch's own delta is durable but uncommitted: the serve
            // answers from the generation published before it
            serve(b + 1, b.toInt)
          })
        .queryName(name).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    val slices = new java.io.File(slicesDir).list().count(_.endsWith(".parquet"))
    publish(None)
    serve(slices + 1L, slices)
    Caches.releaseAll()
    Round(committed.toSeq.sortBy(_._1), out, root, ingests.toSeq, name, genBytes)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    lifecycle(c, "warm", s"${c.in}/warm_slices") // untimed
    c.res.metric("setup_s", c.sinceLaunchS, "s")

    val deadline = System.nanoTime() + c.seconds * 1000000000L
    val cpu0 = Main.cpuS()
    val done = mutable.ArrayBuffer.empty[Round]
    while (done.isEmpty || System.nanoTime() < deadline)
      done += c.trace.span("round", done.size) { lifecycle(c, s"rag${done.size}", s"${c.in}/slices") }
    val rounds = done.toList
    val cpu = Main.cpuS() - cpu0
    val n = rounds.size
    val res = c.res
    val progress = rounds.flatMap(x => c.trace.batches(x.streamName))
    res.metric("round_s", Results.median(c.trace.named("round").map(_.ms / 1000.0)), "s")
    res.metric("cpu_s", cpu / n, "s")

    // ---- layer figures (spans of the measured rounds only)
    val window = c.trace.named("round")
    def inRounds(name: String) = c.trace.named(name)
      .filter(s => window.exists(w => s.start >= w.start && s.end <= w.end))
    val ingests = rounds.flatMap(_.ingests)
    val docs = progress.map(_.numInputRows).sum.toDouble
    res.metric("ext.text.ingest_ms_p50", Results.median(ingests.map(_.ms)), "ms")
    res.metric("ext.text.ingest_docs_per_s", docs / (ingests.map(_.ms).sum / 1000.0), "1/s")
    val publishes = inRounds("util.genstore.publish")
    res.metric("util.genstore.publish_ms_p50", Results.median(publishes.map(_.ms)), "ms")
    val serves = inRounds("ext.text.serve")
    res.metric("ext.text.serve_ms_p50", Results.median(serves.map(_.ms)), "ms")
    res.metric("ext.text.read_corpus_ms_p50",
      Results.median(inRounds("ext.text.read_corpus").map(_.ms)), "ms")
    res.metric("ext.text.rrf_ms_p50", Results.median(inRounds("ext.text.rrf").map(_.ms)), "ms")
    Streams.figures(c, progress, inRounds("streaming"), n)
    if (c.trace.enabled) {
      // jobs per call, and each call's time outside its jobs
      def perCall(ss: Seq[Span]) = {
        val js = c.trace.jobsIn(ss)
        (js.size.toDouble / ss.size, ss.map(s => c.trace.outsideJobsMs(Seq(s), js)))
      }
      res.metric("ext.text.ingest_jobs", perCall(ingests)._1, "count")
      val (pj, pout) = perCall(publishes)
      res.metric("util.genstore.publish_jobs", pj, "count")
      res.metric("util.genstore.publish_outside_jobs_ms_p50", Results.median(pout), "ms")
      val (sj, sout) = perCall(serves)
      res.metric("ext.text.serve_jobs", sj, "count")
      res.metric("ext.text.serve_outside_jobs_ms_p50", Results.median(sout), "ms")
      // store layout after the first measured round
      val first = rounds.head
      val gen = GenStore.currentPath(
        new Path(first.root).getFileSystem(spark.sparkContext.hadoopConfiguration),
        first.root).get.toString
      res.metric("util.genstore.gen_bytes", Du.bytes(gen), "bytes")
      res.metric("util.genstore.bytes_written", rounds.map(_.genBytes).sum / n, "bytes")
      res.metric("util.genstore.chunks", spark.read.parquet(s"$gen/stats").count().toDouble, "count")
    }
    res.put("rounds", n.toString)
    res.put("serves", rounds.map { x =>
      s"""{"out":${Results.jsonString(x.out)},"stages":${x.serves.map { case (s, k) => s"[$s,$k]" }.mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]"))
    res.put("queries", Queries.toString)
  }
}

/** Sizes of files under a local directory. */
object Du {
  def bytes(dir: String): Double = {
    val p = java.nio.file.Paths.get(new Path(dir).toUri.getPath)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum().toDouble
      finally s.close()
    }
  }
}
