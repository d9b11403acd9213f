package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{EmbedderBackend, TextOps}
import graft.operators.{ByidStore, Clustering, Dedup, Search, Serving, ServingState,
  TextAnalysis, ProductQuantization => PQ}
import graft.pipelines.{IndexPipeline, VersionedStore}

/** Engine parameters a deployment would choose; one set for every
  * workload so the workloads differ only in traffic. */
object Params {
  val Embedder = "hash:768"
  val K = 10
  val Buckets = 4
  val ByidFiles = 4
  val Cells = 16
  // 16-dim subspaces: with 48-dim ones the ADC scan barely separates
  // sparse hash vectors (churn recall@10 0.70 against 0.84, 4 probes)
  val PqM = 48
  val PqKsub = 64
  val SampleCap = 512
  val NProbe = 4
  val RescoreK = 50
  // below every measured point of the curve, so routed calls take the
  // cheapest lossy tier on every seed instead of flipping to brute force
  val RecallFloor = 0.5
  // routed tiers serve above this many rows; the corpora are sized
  // above it so the router picks a lossy tier, not brute force
  val BruteCeiling = 100L
  // no similarity cutoff on `searchBatch` and `twoStage`: a top-k query
  // returns the k nearest whatever their score, as the engine's own
  // recall harness serves and as the exact ground truth ranks
  val NoCutoff = -1e18
  val DedupTau = 0.95
  val ChunkIdStride = 1000L
  // the recall curve the router calibrates against: a recall floor
  // routes to the cheapest point that meets it
  val Grid: Seq[(Serving.Tier, Int, Int)] =
    Seq(NProbe, Cells).map(p => (Serving.IvfPqTier, p, RescoreK))
}

/** Driver-side twins of what the engine computes, for output checks. */
object Model {
  lazy val backend: EmbedderBackend = EmbedderBackend.resolve(Params.Embedder)
  private lazy val handle = backend.open()

  def embed(texts: Seq[String]): Array[Array[Double]] =
    if (texts.isEmpty) Array.empty else handle.embedBatch(texts.toArray)

  /** The summary text `IndexPipeline.buildIndex` embeds for a doc. */
  def summaryText(d: Doc): String =
    TextOps.buildSummaryText("doc_" + d.id, TextOps.smartTruncate(d.text, 256),
      Seq.empty, Seq.empty, Seq.empty, "text")

  def chunkCount(d: Doc): Int = TextOps.chunkText(d.text, 462, 50).size

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact top-k (score desc, id asc) of `q` over `vecs`. */
  def exactTopK(q: Array[Double], vecs: Iterable[(Long, Array[Double])],
                k: Int): Seq[(Long, Double)] =
    vecs.iterator.map { case (id, v) => (id, dot(q, v)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** The ids `Dedup.semDedupExact` drops: b is dropped when an a < b
    * shares its blocking code and has similarity ≥ τ. */
  def dedupDropped(vecs: Seq[(Long, Array[Double])], tau: Double): Set[Long] = {
    val byCode = vecs.groupBy { case (_, v) =>
      graft.functions.RandomHyperplane.codeOf(v.toSeq) }
    byCode.values.flatMap { members =>
      val ms = members.sortBy(_._1)
      ms.indices.flatMap { j =>
        if ((0 until j).exists(i => dot(ms(i)._2, ms(j)._2) >= tau)) Some(ms(j)._1)
        else None
      }
    }.toSet
  }
}

/** Files, bytes and sessions. */
object Env {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map(d => Row(d.id, d.owner, d.text)),
        spark.sparkContext.defaultParallelism), DocSchema)

  /** Writes a document shard as parquet (the form an ingest job reads)
    * and returns a reader for it. */
  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String): DataFrame = {
    docsFrame(spark, docs).write.mode("overwrite").parquet(path)
    spark.read.schema(DocSchema).parquet(path)
  }

  /** Bytes written through Hadoop's local file system since JVM start:
    * every parquet and manifest write of the stores goes through it. */
  def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What one ingest left behind: the stores, the frozen IVF/PQ assets
  * and what the output checks compare. */
final case class Built(statePath: String, chunkPath: String,
                       qualityPass: Set[Long], dropped: Set[Long],
                       clustered: Set[Long],
                       centroids: Map[String, Array[Array[Double]]],
                       codebooks: Map[String, PQ.Codebooks],
                       curve: Seq[Serving.RecallPoint],
                       cells: DataFrame, encoded: DataFrame)

/** The ingest pipeline as a sortify deployment runs it for a document
  * shard: quality filter → chunk + embed → semantic dedup of the
  * summaries → chunk store and summary store → IVF and PQ assets →
  * lexical assets and recall curve → serving snapshot → clustering.
  * The bootstrap of a clean corpus for CDC maintenance (`full = false`)
  * skips the curation steps (quality filter, dedup, clustering), which
  * have nothing to remove or group, and the serving snapshot with its
  * lexical assets and recall curve: the maintenance loop serves through
  * the maintained stores and writes its own snapshots. Each call into
  * the engine is one traced layer call; lazily-planned results are
  * materialized inside the call that plans them, the way the next
  * consumer would force them. */
object Ingest {
  def run(spark: SparkSession, tr: Tracer, docs: DataFrame, dir: String,
          probes: Seq[(Long, Seq[Double])], full: Boolean): Built = {
    val statePath = s"$dir/state"
    val chunkPath = s"$dir/chunks"
    val byid = s"$statePath/byid"
    val pass = if (!full) Set.empty[Long] else tr.call("TextAnalysis", "gopherQuality") {
      TextAnalysis.gopherQuality(docs).filter(col("passes") === 1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val good = if (full) docs.filter(col("doc_id").isInCollection(pass)) else docs
    // the vectors have several consumers (dedup, both stores), so they
    // are persisted once
    val vectors = tr.call("IndexPipeline", "buildIndex") {
      val v = IndexPipeline.buildIndex(good, Model.backend)
        .withColumn("vec_id", col("doc_id") * Params.ChunkIdStride + col("chunk_index"))
        .persist()
      v.count()
      v
    }
    val dropped = if (!full) Set.empty[Long] else tr.call("Dedup", "semDedupAuto") {
      Dedup.semDedupAuto(vectors.filter(col("vtype") === "summary")
          .select(col("doc_id").as("vec_id"), col("embedding")), Params.DedupTau)
        .select("dropped_id").collect().map(_.getLong(0)).toSet
    }
    val kept = vectors.filter(!col("doc_id").isInCollection(dropped))
    val summaries = kept.filter(col("vtype") === "summary")
      .select(col("doc_id").as("id"), col("embedding"), col("owner").as("tenant"))
    val chunks = kept.filter(col("vtype") === "chunk")
      .select("doc_id", "owner", "vec_id", "chunk_index", "total_chunks",
        "chunk_text", "embedding")
    tr.call("VersionedStore", "initialLoad") {
      VersionedStore.initialLoad(spark, chunkPath, chunks, Params.Buckets)
    }
    tr.call("ByidStore", "init") {
      ByidStore.init(summaries, "id", byid, Params.ByidFiles)
    }
    val cents = tr.call("Search", "ivfTrainSampled") {
      Search.ivfTrainSampled(summaries, "tenant", "id", "embedding", Params.Cells,
        Params.SampleCap)
    }
    // cells feed the snapshot and the codes join: persisted once
    val cells = tr.call("Search", "ivfAssign") {
      val c = Search.ivfAssign(summaries, "tenant", "id", "embedding", cents).persist()
      c.count()
      c
    }
    val books = tr.call("ProductQuantization", "pqTrainSampled") {
      PQ.pqTrainSampled(summaries, "tenant", "id", "embedding", Params.PqM,
        Params.PqKsub, Params.SampleCap)
    }
    val encoded = tr.call("ProductQuantization", "pqEncode") {
      val e = PQ.pqEncode(summaries, "tenant", "id", "embedding", books)
        .join(cells.select("tenant", "id", "cell"), Seq("tenant", "id"))
        .select("tenant", "id", "codes", "cell").persist()
      e.count()
      e
    }
    val keptDocs = good.filter(!col("doc_id").isInCollection(dropped))
    val curve = if (!full) Nil else {
      val postings = tr.call("Serving", "buildPostings") {
        val p = Serving.buildPostings(keptDocs, "source", "doc_id", "text").persist()
        p.count()
        p
      }
      val lex = tr.call("Serving", "lexStatsOf") {
        Serving.lexStatsOf(keptDocs, "source", "text")
      }
      val nKept = lex.values.map(_._1).sum
      val state = Serving.IndexState(
        vectors = ByidStore.readAll(spark, byid, "id"), corpusSize = nKept,
        centroids = Some(cents), cells = Some(cells), codebooks = Some(books),
        encoded = Some(encoded), encodedHasCells = true, byidPath = Some(byid),
        embCol = "embedding")
      // the curve is measured on the largest owner, the one most traffic hits
      val head = lex.maxBy { case (t, (n, _)) => (n, t) }._1
      val curve = tr.call("Serving", "measureRecallCurve") {
        Serving.measureRecallCurve(state, head, probes, Params.K, Params.Grid)
      }
      tr.call("ServingState", "saveSnapshot") {
        ServingState.saveSnapshot(spark, statePath, Some(cents), Some(books),
          cells = Some(cells), encoded = Some(encoded), postings = Some(postings),
          lexStats = lex, corpusSize = nKept, encodedHasCells = true,
          recallCurve = curve)
      }
      postings.unpersist()
      curve
    }
    val clustered = if (!full) Set.empty[Long] else tr.call("Clustering", "hierarchicalCluster") {
      Clustering.hierarchicalCluster(summaries, "tenant", "id", "embedding", 8, 4)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    vectors.unpersist()
    Built(statePath, chunkPath, pass, dropped, clustered, cents, books, curve,
      cells, encoded)
  }
}
