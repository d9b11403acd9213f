package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{ByidStore, Search, Serving, ServingState}
import graft.pipelines.{IndexPipeline, VersionedStore}
import graft.streaming.StreamingOps

/** Sizes of the generated inputs; recorded in every artifact. */
final case class Sizes(corpusDocs: Int, owners: Int, vocab: Int, queries: Int,
                       cdcPerEpoch: Int, cdcEpochs: Int) {
  def toMap: Map[String, Any] = Map("corpus_docs" -> corpusDocs, "owners" -> owners,
    "vocab" -> vocab, "queries" -> queries, "cdc_per_epoch" -> cdcPerEpoch,
    "cdc_epochs" -> cdcEpochs, "dim" -> 768)
}

/** What a run records. Latencies are milliseconds; a failed op (a throw
  * or a failed output check) counts once in `failed`. */
final class Recorder {
  val opMs = ArrayBuffer.empty[Double]
  val readMs = ArrayBuffer.empty[Double]
  var bootstrapMs = 0.0
  var bootstrapWritten = 0L
  var bootstrapPayload = 0L
  var recallHits = 0L
  var recallTotal = 0L
  var attempted = 0L
  var failed = 0L
  var writtenBytes = 0L
  var payloadBytes = 0L
  val checks = LinkedHashMap.empty[String, (Long, Long)] // name -> (passed, run)
  val failures = ArrayBuffer.empty[String]
  private var opFailed = false

  def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case _: Throwable => false }
    val (p, n) = checks.getOrElse(name, (0L, 0L))
    checks(name) = (p + (if (pass) 1 else 0), n + 1)
    if (!pass) {
      opFailed = true
      if (failures.size < 20) failures += name
    }
  }

  /** Times `body` and appends the milliseconds to `into`. */
  def timed[T](into: ArrayBuffer[Double])(body: => T): T = {
    val t = System.nanoTime()
    val r = body
    into += (System.nanoTime() - t) / 1e6
    r
  }

  /** Times the bootstrap and the bytes it writes for `payload` user
    * bytes. */
  def bootstrap[T](payload: Long)(body: => T): T = {
    val (t, w0) = (System.nanoTime(), Env.fsBytesWritten())
    val r = body
    bootstrapMs = (System.nanoTime() - t) / 1e6
    bootstrapWritten = Env.fsBytesWritten() - w0
    bootstrapPayload = payload
    r
  }

  def begin(): Unit = { attempted += 1; opFailed = false }

  def end(threw: Option[Throwable]): Unit = {
    threw.foreach(e => if (failures.size < 20) failures += s"threw: $e")
    if (opFailed || threw.isDefined) failed += 1
  }

  def recall(got: Seq[Long], exact: Seq[Long]): Unit = {
    recallHits += got.toSet.intersect(exact.toSet).size
    recallTotal += exact.size
  }
}

/** A workload: a set-up that generates the inputs and bootstraps the
  * state (one checked op, id -1), then a closed loop of ops. `step(i)`
  * runs op `i` (timed), then its output checks (untimed). */
trait Workload {
  def setup(tr: Tracer, rec: Recorder): Unit
  def step(i: Int, tr: Tracer, rec: Recorder): Unit
  /** Ops in one cycle of the fixed op sequence; runs time whole cycles. */
  def cycle: Int
  /** Ops 0 until `warmupOps` run before timing starts, so that lazy
    * set-up and JIT compilation of the measured path are done; their
    * checks count, their latencies do not. */
  def warmupOps: Int
  /** Documents the bootstrap ingested. */
  def bootstrapDocs: Long
  /** User bytes of the data the state holds, for space amplification. */
  def liveUserBytes: Long
  def stateDirs: Seq[String]
}

object Workload {
  def sizes(name: String): Sizes = name match {
    case "search" => Sizes(1000, 4, 4000, 256, 0, 0)
    case "churn" => Sizes(2400, 4, 4000, 0, 12, 64)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload =
    name match {
      case "search" => new SearchW(spark, seed, sizes(name), dir)
      case "churn" => new ChurnW(spark, seed, sizes(name), dir)
    }

  /** Every generated input of a workload, for the determinism check. */
  def inputDigest(name: String, seed: Long): String = {
    val z = sizes(name)
    val lex = new Gen.Lexicon(z.vocab)
    val owners = Gen.owners(z.owners)
    name match {
      case "search" =>
        val sh = SearchW.corpus(seed, z, lex, owners)
        Gen.digest(sh.docs, Gen.queries(seed, z.queries, SearchW.queryable(sh)), Nil)
      case "churn" =>
        val docs = ChurnW.corpus(seed, z, lex, owners)
        Gen.digest(docs, Nil, Gen.cdc(seed, z.cdcEpochs, z.cdcPerEpoch, docs, lex, owners))
    }
  }

  /** Routed or exact serve output: k rows per query (or `want(q)` rows
    * where the call can serve fewer, checked as `probed_rows`), ranks
    * 1..n, scores non-increasing, every id owned by the queried owner. */
  def checkServed(rec: Recorder, tag: String, rows: Seq[Row], qids: Seq[Long],
                  ownerOf: Long => Option[String], owner: String,
                  want: Option[Long => Int] = None): Unit = {
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    val rowsOk = (q: Long) => byQ.get(q).exists(_.size == want.fold(Params.K)(_(q)))
    rec.check(s"$tag.${if (want.isEmpty) "k_rows" else "probed_rows"}")(qids.forall(rowsOk))
    rec.check(s"$tag.sorted")(byQ.values.forall { rs =>
      val s = rs.sortBy(_.getAs[Int]("rank"))
      s.map(_.getAs[Int]("rank")) == (1 to s.size) && nonIncreasing(s.map(_.getAs[Double]("sim")))
    })
    rec.check(s"$tag.owner")(rows.forall(r => ownerOf(r.getAs[Long]("id")).contains(owner)))
  }

  def nonIncreasing(xs: Seq[Double]): Boolean =
    xs.sliding(2).forall(p => p.size < 2 || p(0) >= p(1))

  def idsOf(rows: Seq[Row], q: Long): Seq[Long] =
    rows.filter(_.getAs[Long]("q_id") == q).sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id"))

  /** Summaries of one owner, in the shape `Search.twoStage`/`rrfFusion`
    * read: the byid store's merged view. */
  def summaries(spark: SparkSession, tr: Tracer, byid: String, owner: String): DataFrame =
    tr.call("ByidStore", "readAll")(ByidStore.readAll(spark, byid, "id"))
      .filter(col("tenant") === owner)
      .select(col("id").as("vec_id"), col("id").as("label"), col("embedding"))

  /** Chunks of one owner from the chunk store's current snapshot. */
  def chunks(spark: SparkSession, tr: Tracer, path: String, owner: String): DataFrame =
    tr.call("VersionedStore", "readSnapshot")(VersionedStore.readSnapshot(spark, path))
      .filter(col("owner") === owner)
      .select(col("vec_id"), col("doc_id").as("label"), col("embedding"))
}

object SearchW {
  def corpus(seed: Long, z: Sizes, lex: Gen.Lexicon, owners: Vector[String]): Shard =
    Gen.shard(seed, z.corpusDocs, 1L, lex, owners, plant = true)

  /** Queries are drawn from documents that were not planted. */
  def queryable(sh: Shard): Vector[Doc] =
    sh.docs.filterNot(d => sh.lowQuality(d.id) || sh.dupOf.contains(d.id))
}

/** `search`: the set-up ingests a seeded corpus (with planted low-quality
  * and duplicate documents) through the full ingest pipeline and checks
  * its outputs; the measured phase is a read-only closed loop over the
  * resulting snapshot. Requests rotate through one call of each kind:
  * routed single, routed batch, exact, hybrid, two-stage and RRF, each
  * scoped to one owner. */
final class SearchW(spark: SparkSession, seed: Long, z: Sizes, dir: String)
    extends Workload {
  private final case class Req(kind: String, owner: String, qids: Seq[Long])
  private var built: Built = _
  private var state: Serving.IndexState = _
  private var qs: Map[Long, Query] = Map.empty
  private var qvec: Map[Long, Array[Double]] = Map.empty
  private var exact: Map[Long, Seq[(Long, Double)]] = Map.empty
  private var ownerOf: Map[Long, String] = Map.empty
  /** Docs per IVF cell, per owner, as the served index assigned them. */
  private var cellDocs: Map[String, Map[Int, Int]] = Map.empty
  private var reqs: IndexedSeq[Req] = IndexedSeq.empty
  private var userBytes = 0L
  private var nDocs = 0L
  private val firstRows = HashMap.empty[Int, Seq[Row]]
  /** Routed calls per serving tier the router chose. */
  val tiers = HashMap.empty[String, Long].withDefaultValue(0L)
  /** Routed queries served fewer than k rows, of all routed queries. */
  var shortOfK: (Long, Long) = (0L, 0L)
  /** Planted duplicates the dedup layer caught, of those planted. */
  var plantedDups: (Int, Int) = (0, 0)
  val cycle = 6
  val warmupOps = 6

  def setup(tr: Tracer, rec: Recorder): Unit = {
    val lex = new Gen.Lexicon(z.vocab)
    val sh = SearchW.corpus(seed, z, lex, Gen.owners(z.owners))
    nDocs = sh.docs.size
    ownerOf = sh.docs.map(d => d.id -> d.owner).toMap
    // what the ingest must keep: the quality filter drops the planted
    // low-quality docs; dedup drops what its blocking contract finds
    val pass = sh.docs.filterNot(d => sh.lowQuality(d.id))
    val passVecs = Model.embed(pass.map(Model.summaryText))
    val dropped = Model.dedupDropped(pass.map(_.id).zip(passVecs), Params.DedupTau)
    val survivors = pass.zip(passVecs).filterNot { case (d, _) => dropped(d.id) }
    userBytes = survivors.map { case (d, _) => Gen.userBytes(d) }.sum
    val queries = Gen.queries(seed, z.queries, SearchW.queryable(sh))
    qs = queries.map(q => q.qid -> q).toMap
    qvec = queries.map(_.qid).zip(Model.embed(queries.map(_.text))).toMap
    val input = Env.writeDocs(spark, sh.docs, s"$dir/input/corpus")
    val head = queries.groupBy(_.owner).maxBy { case (o, q) => (q.size, o) }._1
    val probes = queries.filter(_.owner == head).take(8).map(q => (q.qid, qvec(q.qid).toSeq))

    rec.begin()
    built = rec.bootstrap(sh.userBytes) {
      tr.operation(-1, "bootstrap") {
        Ingest.run(spark, tr, input, s"$dir/index", probes, full = true)
      }
    }
    val kept = survivors.map(_._1.id).toSet
    rec.check("ingest.quality_filter")(built.qualityPass == pass.map(_.id).toSet)
    rec.check("ingest.dedup_contract")(built.dropped == dropped)
    rec.check("ingest.planted_dups_only")(built.dropped.subsetOf(sh.dupOf.keySet))
    rec.check("ingest.summary_rows")(
      ByidStore.readAll(spark, s"${built.statePath}/byid", "id").count() == kept.size)
    rec.check("ingest.chunk_rows")(VersionedStore.readSnapshot(spark, built.chunkPath).count() ==
      survivors.map { case (d, _) => Model.chunkCount(d).toLong }.sum)
    rec.check("ingest.all_clustered")(built.clustered == kept)
    rec.check("ingest.snapshot_loads")(ServingState.snapshots(built.statePath).nonEmpty)
    rec.end(None)
    plantedDups = (sh.dupOf.keys.count(built.dropped), sh.dupOf.size)
    built.cells.unpersist()
    built.encoded.unpersist()

    state = ServingState.load(spark, built.statePath, embCol = "embedding")
    cellDocs = state.encoded.get.select("tenant", "cell").collect()
      .groupBy(_.getString(0)).map { case (o, rs) =>
        o -> rs.groupBy(_.getInt(1)).map { case (c, xs) => c -> xs.length } }
    // exact ground truth: a driver-side scan of the generated vectors
    val byOwner = survivors.map { case (d, v) => (d.id, v) }.groupBy { case (id, _) => ownerOf(id) }
    exact = queries.map(q => q.qid -> Model.exactTopK(qvec(q.qid), byOwner(q.owner), Params.K)).toMap
    reqs = requests(queries)
  }

  /** The rotation: one request of each call kind, so no kind is weighted
    * above another (the repository holds no deployment trace to weight
    * them by). Slot j serves owner j mod 4, so every owner size is
    * served and every seed makes the same calls; batch members come from
    * the slot's owner. */
  private def requests(queries: Vector[Query]): IndexedSeq[Req] = {
    val byOwner = queries.groupBy(_.owner).map { case (o, q) => o -> q.map(_.qid) }
    val cursor = HashMap.empty[String, Int].withDefaultValue(0)
    Seq(("routed", 1), ("routed", 32), ("exact", 1), ("hybrid", 4), ("twoStage", 1),
      ("rrf", 1)).zipWithIndex.map { case ((kind, b), slot) =>
      val owner = f"o${slot % z.owners}%02d"
      val pool = byOwner(owner)
      val ids = (0 until math.min(b, pool.size)).map(j => pool((cursor(owner) + j) % pool.size))
      cursor(owner) += ids.size
      Req(kind, owner, ids)
    }.toIndexedSeq
  }

  def step(i: Int, tr: Tracer, rec: Recorder): Unit = {
    val slot = i % reqs.size
    val q = reqs(slot)
    val batch = q.qids.map(id => (id, qvec(id).toSeq))
    val byid = s"${built.statePath}/byid"
    val rows: Seq[Row] = rec.timed(rec.opMs) {
      tr.operation(i, q.kind) {
        q.kind match {
          case "routed" | "exact" =>
            val floor = if (q.kind == "exact") 1.0 else Params.RecallFloor
            tr.call("Serving", "searchBatch") {
              Serving.searchBatch(state, q.owner, batch, Params.K, Params.NProbe,
                Params.RescoreK, threshold = Params.NoCutoff, recallFloor = floor,
                bruteForceCeiling = Params.BruteCeiling).collect().toSeq
            }
          case "hybrid" =>
            val withText = q.qids.map(id =>
              (id, qvec(id).toSeq, qs(id).text.toLowerCase.split("\\s+").toSeq))
            tr.call("Serving", "searchBatchText") {
              Serving.searchBatchText(state, q.owner, withText, Params.K, Params.NProbe,
                Params.RescoreK, bruteForceCeiling = Params.BruteCeiling).collect().toSeq
            }
          case "twoStage" =>
            val s = Workload.summaries(spark, tr, byid, q.owner)
            val c = Workload.chunks(spark, tr, built.chunkPath, q.owner)
            tr.call("Search", "twoStage") {
              Search.twoStage(s, c, batch.head._2, 20, Params.K, Params.NoCutoff).collect().toSeq
            }
          case "rrf" =>
            val s = Workload.summaries(spark, tr, byid, q.owner)
            val c = Workload.chunks(spark, tr, built.chunkPath, q.owner)
            tr.call("Search", "rrfFusion") {
              Search.rrfFusion(s, c, batch.head._2, 20, Params.K).collect().toSeq
            }
        }
      }
    }
    // the single-query calls are the workload's reads
    if (q.qids.size == 1) rec.readMs += rec.opMs.last
    val owned = (id: Long) => ownerOf.get(id)
    q.kind match {
      case "routed" | "exact" =>
        rows.headOption.foreach(r => tiers(r.getAs[String]("tier")) += 1)
        val want = if (q.kind == "routed") Some(probedRows(q.owner) _) else None
        Workload.checkServed(rec, s"search.${q.kind}", rows, q.qids, owned, q.owner, want)
        if (q.kind == "routed") {
          val short = q.qids.count(id => rows.count(_.getAs[Long]("q_id") == id) < Params.K)
          shortOfK = (shortOfK._1 + short, shortOfK._2 + q.qids.size)
        }
        if (q.kind == "exact")
          rec.check("search.exact_equals_scan")(q.qids.forall { id =>
            val got = rows.filter(_.getAs[Long]("q_id") == id).sortBy(_.getAs[Int]("rank"))
              .map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim")))
            got.map(_._1) == exact(id).map(_._1) &&
              got.zip(exact(id)).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-9 }
          })
        // the warm-up pass's routed calls count toward recall, so recall
        // does not depend on how many cycles fit in the measured window
        else if (i < warmupOps)
          q.qids.foreach(id => rec.recall(Workload.idsOf(rows, id), exact(id).map(_._1)))
      case "hybrid" =>
        Workload.checkServed(rec, "search.hybrid", rows, q.qids, owned, q.owner)
      case kind =>
        val score = if (kind == "rrf") "rrf_score" else "sim"
        rec.check(s"search.$kind.k_rows")(rows.size == Params.K)
        rec.check(s"search.$kind.sorted")(Workload.nonIncreasing(rows.map(_.getAs[Double](score))))
        rec.check(s"search.$kind.owner")(
          rows.forall(r => owned(r.getAs[Long]("label")).contains(q.owner)))
    }
    firstRows.get(slot) match {
      case Some(prev) => rec.check("search.repeatable")(prev == rows)
      case None => firstRows(slot) = rows
    }
  }

  /** Rows a routed call must return for query `qid`: k, or on an IVF
    * tier every doc of the owner in the cells the engine probes when
    * they hold fewer than k. A lossy tier serves only its probed cells,
    * and the engine ranks cells by inner product with the centroid
    * while it assigns docs by L2 distance, so it can probe small cells
    * (WORKLOADS.md); `recall_at_10` pays for that, not this check. */
  private def probedRows(owner: String)(qid: Long): Int = {
    val d = Serving.routeCalibrated(state, Params.RecallFloor, Params.BruteCeiling,
      Params.NProbe, Params.RescoreK)
    if (d.tier != Serving.IvfPqTier && d.tier != Serving.IvfTier) Params.K
    else {
      val cells = Search.ivfProbeCells(state.centroids.get, owner, qvec(qid).toSeq, d.nProbe)
      math.min(Params.K, cells.map(c => cellDocs(owner).getOrElse(c, 0)).sum)
    }
  }

  /** Label of op `i`'s call kind, with its batch size if batched. */
  def kindOf(i: Int): String = {
    val q = reqs(i % reqs.size)
    if (q.qids.size > 1) s"${q.kind}_x${q.qids.size}" else q.kind
  }
  def curve: Seq[Serving.RecallPoint] = built.curve
  def bootstrapDocs: Long = nDocs
  def liveUserBytes: Long = userBytes
  def stateDirs: Seq[String] = Seq(built.statePath, built.chunkPath)
}

object ChurnW {
  def corpus(seed: Long, z: Sizes, lex: Gen.Lexicon, owners: Vector[String]): Vector[Doc] =
    Gen.shard(seed, z.corpusDocs, 1L, lex, owners, plant = false).docs
}

/** `churn`: the set-up bootstraps every store from a clean seeded
  * corpus; each op is one CDC epoch applied to every store and closed
  * by a serving snapshot, followed by timed reads of the state just
  * written. */
final class ChurnW(spark: SparkSession, seed: Long, z: Sizes, dir: String)
    extends Workload {
  private final case class Live(doc: Doc, vec: Array[Double], chunks: Int)
  private var built: Built = _
  private val live = HashMap.empty[Long, Live]
  private var batches: Vector[Vector[Change]] = Vector.empty
  private var nDocs = 0L
  val cycle = 1
  // an epoch costs more than the measured window: it is timed cold
  val warmupOps = 0

  private def statePath = built.statePath

  def setup(tr: Tracer, rec: Recorder): Unit = {
    val lex = new Gen.Lexicon(z.vocab)
    val owners = Gen.owners(z.owners)
    val docs = ChurnW.corpus(seed, z, lex, owners)
    nDocs = docs.size
    val vecs = Model.embed(docs.map(Model.summaryText))
    docs.zip(vecs).foreach { case (d, v) => live(d.id) = Live(d, v, Model.chunkCount(d)) }
    batches = Gen.cdc(seed, z.cdcEpochs, z.cdcPerEpoch, docs, lex, owners)
    val input = Env.writeDocs(spark, docs, s"$dir/input/corpus")
    val head = docs.groupBy(_.owner).maxBy { case (o, ds) => (ds.size, o) }._1
    val probes = docs.zip(vecs).filter(_._1.owner == head).take(8)
      .map { case (d, v) => (d.id, v.toSeq) }

    rec.begin()
    built = rec.bootstrap(docs.map(Gen.userBytes).sum)(tr.operation(-1, "bootstrap") {
      val b = Ingest.run(spark, tr, input, s"$dir/index", probes, full = false)
      // the maintained cells and codes stores start from the bootstrap assets
      tr.call("ByidStore", "init") {
        ByidStore.init(b.cells, "id", s"${b.statePath}/cells_store", Params.ByidFiles)
      }
      tr.call("ByidStore", "init") {
        ByidStore.init(b.encoded, "id", s"${b.statePath}/codes_store", Params.ByidFiles)
      }
      tr.call("StreamingOps", "initCorpusCount") {
        StreamingOps.initCorpusCount(spark, b.statePath, "id")
      }
      b
    })
    rec.check("churn.bootstrap_counter")(StreamingOps.readCorpusCount(statePath) == live.size)
    rec.check("churn.bootstrap_chunk_rows")(
      VersionedStore.readSnapshot(spark, built.chunkPath).count() ==
        live.valuesIterator.map(_.chunks.toLong).sum)
    rec.end(None)
    built.cells.unpersist()
    built.encoded.unpersist()
  }

  def step(i: Int, tr: Tracer, rec: Recorder): Unit = {
    require(i < batches.size, s"churn: only ${batches.size} CDC batches were generated")
    val batch = batches(i)
    val ups = batch.filter(_.op == "upsert").map(_.doc)
    val dels = batch.filter(_.op == "delete").map(_.doc)
    val upVec = Model.embed(ups.map(Model.summaryText))
    // every epoch serves and reads the largest owner (the Zipf head):
    // probes are its upserted and deleted docs (the generator puts at
    // least one of each in every batch), topped up with seeded live docs
    // of it that the batch leaves alone
    val owner = Gen.owners(z.owners).head
    val upProbes = ups.zip(upVec).filter(_._1.owner == owner).take(2)
    val delProbes = dels.filter(_.owner == owner).take(2).map(d => (d, live(d.id).vec))
    val touched = batch.map(_.doc.id).toSet
    val others = live.valuesIterator.filter(l => l.doc.owner == owner && !touched(l.doc.id))
      .map(_.doc.id).toVector.sorted
    val rng = new Gen.Rng(seed * 31 + i)
    val liveProbes = Vector.fill(32 - upProbes.size - delProbes.size)(others(rng.int(others.size)))
      .distinct.map(id => (live(id).doc, live(id).vec))
    val probeVecs = (upProbes ++ delProbes ++ liveProbes).zipWithIndex.map { case ((_, v), q) =>
      (q.toLong, v.toSeq) }
    val upDf = Env.docsFrame(spark, ups)
    val delDf = spark.createDataFrame(spark.sparkContext.parallelize(
      dels.map(d => Row(d.id, d.owner)), 1),
      StructType(Seq(StructField("id", LongType), StructField("tenant", StringType))))
    val w0 = Env.fsBytesWritten()
    val served = rec.timed(rec.opMs) {
      tr.operation(i, "epoch") {
        val vecs = tr.call("IndexPipeline", "buildIndex") {
          val v = IndexPipeline.buildIndex(upDf, Model.backend)
            .withColumn("vec_id", col("doc_id") * Params.ChunkIdStride + col("chunk_index"))
            .persist()
          v.count()
          v
        }
        tr.call("VersionedStore", "upsertVersioned") {
          VersionedStore.upsertVersioned(spark, built.chunkPath,
            vecs.filter(col("vtype") === "chunk").select("doc_id", "owner", "vec_id",
              "chunk_index", "total_chunks", "chunk_text", "embedding"), Params.Buckets)
        }
        if (dels.nonEmpty) tr.call("VersionedStore", "deleteVersioned") {
          VersionedStore.deleteVersioned(spark, built.chunkPath,
            delDf.select(col("id").as("doc_id")), Params.Buckets)
        }
        val cdc = vecs.filter(col("vtype") === "summary")
          .select(lit("upsert").as("op"), col("doc_id").as("id"), col("embedding"),
            col("owner").as("tenant"))
          .unionByName(delDf.select(lit("delete").as("op"), col("id"),
            lit(null).cast("array<double>").as("embedding"), col("tenant")))
        // the probe serve reads every cell: IVF assigns a vector to its
        // nearest centroid by L2 distance but probes cells by inner
        // product, so with fewer probes a vector can miss its own cell
        // and the freshness check below would test probe order instead
        val out = tr.call("StreamingOps", "maintainServeBatch") {
          StreamingOps.maintainServeBatch(spark, cdc, statePath, built.centroids,
            built.codebooks, probeVecs, Params.K, Params.Cells, Params.RescoreK, i.toLong,
            tenant = owner, idCol = "id", embCol = "embedding").collect().toSeq
        }
        vecs.unpersist()
        tr.call("ServingState", "saveSnapshot") {
          ServingState.saveSnapshot(spark, statePath, Some(built.centroids),
            Some(built.codebooks),
            cells = Some(ByidStore.readAll(spark, s"$statePath/cells_store", "id").drop("seg")),
            encoded = Some(ByidStore.readAll(spark, s"$statePath/codes_store", "id").drop("seg")),
            corpusSize = StreamingOps.readCorpusCount(statePath), encodedHasCells = true)
        }
        tr.call("ServingState", "vacuum")(ServingState.vacuum(spark, statePath))
        tr.call("VersionedStore", "vacuum")(VersionedStore.vacuum(spark, built.chunkPath))
        out
      }
    }
    rec.writtenBytes += Env.fsBytesWritten() - w0
    rec.payloadBytes += ups.map(Gen.userBytes).sum + dels.size * 8L
    // the model follows the batch
    ups.zip(upVec).foreach { case (d, v) => live(d.id) = Live(d, v, Model.chunkCount(d)) }
    dels.foreach(d => live -= d.id)
    // timed reads of the state just written, one per probe of the
    // first five
    val reads = (0 until 5).map { q =>
      rec.timed(rec.readMs) {
        tr.operation(i, "read") {
          val s = Workload.summaries(spark, tr, s"$statePath/byid", owner)
          val c = Workload.chunks(spark, tr, built.chunkPath, owner)
          tr.call("Search", "twoStage") {
            Search.twoStage(s, c, probeVecs(q)._2, 20, Params.K, Params.NoCutoff).collect().toSeq
          }
        }
      }
    }
    val ownerOf = (id: Long) => live.get(id).map(_.doc.owner)
    val pool = live.valuesIterator.filter(_.doc.owner == owner).map(l => (l.doc.id, l.vec)).toSeq
    val scored = upProbes.indices ++ (upProbes.size + delProbes.size until probeVecs.size)
    scored.foreach { q =>
      val got = Workload.idsOf(served, q)
      if (q < upProbes.size)
        rec.check("churn.upsert_probe_rank1")(got.headOption.contains(upProbes(q)._1.id))
      rec.recall(got, Model.exactTopK(probeVecs(q)._2.toArray, pool, Params.K).map(_._1))
    }
    rec.check("churn.freshness_probes_present")(upProbes.nonEmpty && delProbes.nonEmpty)
    delProbes.indices.foreach { j =>
      rec.check("churn.deleted_never_served")(
        !Workload.idsOf(served, (upProbes.size + j).toLong).contains(delProbes(j)._1.id))
    }
    rec.check("churn.served_owner")(served.forall(r =>
      ownerOf(r.getAs[Long]("id")).contains(owner)))
    rec.check("churn.corpus_counter")(StreamingOps.readCorpusCount(statePath) == live.size)
    rec.check("churn.chunk_rows")(VersionedStore.readSnapshot(spark, built.chunkPath).count() ==
      live.valuesIterator.map(_.chunks.toLong).sum)
    rec.check("churn.read.k_rows")(reads.forall(_.size == Params.K))
    rec.check("churn.read.owner")(reads.forall(_.forall(r =>
      ownerOf(r.getAs[Long]("label")).contains(owner))))
  }

  def bootstrapDocs: Long = nDocs
  def liveUserBytes: Long = live.valuesIterator.map(l => Gen.userBytes(l.doc)).sum
  def stateDirs: Seq[String] = Seq(statePath, built.chunkPath)
}
