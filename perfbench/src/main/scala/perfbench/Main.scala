package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.LinkedHashMap

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM, one client
  * in a closed loop on `local[nproc]`.
  *
  * {{{
  *   Main --workload search|churn --seed N --seconds S --trace 0|1
  *        --work DIR --artifact FILE
  * }}}
  *
  * Set-up is session start, input generation, the bootstrap build
  * and the exact ground truth. The workload's warm-up ops then run
  * untimed. An untraced run times whole cycles of the fixed op
  * sequence until S seconds have passed (at least one cycle) and prints
  * the end-to-end metrics. A traced run traces the set-up, then runs at
  * least one cycle to warm up, the next cycle untraced and the one after
  * traced, and prints the per-layer metrics of the traced bootstrap and
  * cycle plus the tracing overhead. The last stdout line is the JSON
  * result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    Workload.sizes(workload) // rejects an unknown name before any work

    // determinism self-check of the generator: same seed, same bytes;
    // another seed, other bytes
    val digest = Workload.inputDigest(workload, seed)
    val genOk = digest == Workload.inputDigest(workload, seed) &&
      digest != Workload.inputDigest(workload, seed + 1)

    val rec = new Recorder
    val t0 = System.nanoTime()
    val spark = Env.session(work)
    val tr = new Tracer(spark, on = trace)
    val w = Workload(workload, spark, seed, s"$work/run")
    w.setup(tr, rec)
    val setupS = (System.nanoTime() - t0) / 1e9
    tr.pause()
    val calBefore = calibrate(spark)
    val k = w.cycle
    val warm = if (trace) math.max(w.warmupOps, k) else w.warmupOps
    (0 until warm).foreach(i => runStep(w, i, tr, rec))
    rec.opMs.clear()
    rec.readMs.clear()

    val metrics = LinkedHashMap[String, (Double, String)]()
    val detail = LinkedHashMap[String, Any]()
    if (!trace) {
      // whole cycles only, so every run times the same mix of ops
      val t = System.nanoTime()
      var i = warm
      while (i == warm || (i - warm) % k != 0 || (System.nanoTime() - t) / 1e9 < seconds) {
        runStep(w, i, tr, rec)
        i += 1
      }
      val (writes, payload) =
        if (rec.payloadBytes > 0) (rec.writtenBytes, rec.payloadBytes)
        else (rec.bootstrapWritten, rec.bootstrapPayload)
      metrics("setup_s") = (setupS, "s")
      metrics("ingest_docs_per_s") = (w.bootstrapDocs / (rec.bootstrapMs / 1e3), "docs/s")
      metrics("op_mean_ms") = (mean(rec.opMs.toSeq), "ms")
      metrics("read_mean_ms") = (mean(rec.readMs.toSeq), "ms")
      metrics("recall_at_10") = (rec.recallHits.toDouble / math.max(1L, rec.recallTotal), "fraction")
      metrics("write_amp") = (writes.toDouble / payload, "ratio")
      metrics("space_amp") = (w.stateDirs.map(Env.dirBytes).sum.toDouble / w.liveUserBytes, "ratio")
      metrics("peak_rss_mb") = (Env.peakRssMb(), "MB")
      detail("op_ms") = rec.opMs.toSeq
      detail("read_ms") = rec.readMs.toSeq
      detail("named_metrics") = namedMetrics(w, rec)
    } else {
      // one cycle untraced and the next traced: their difference is the
      // tracing overhead
      def cycleMs(from: Int): Double = {
        val t = System.nanoTime()
        (from until from + k).foreach(i => runStep(w, i, tr, rec))
        (System.nanoTime() - t) / 1e6
      }
      val untraced = cycleMs(warm)
      tr.resume()
      val traced = cycleMs(warm + k)
      tr.pause()
      val layers = Tracer.perLayer(tr, Set(-1L) ++ (warm + k until warm + 2 * k).map(_.toLong))
      val att = tr.attribution()
      Layers.all.foreach(l => Layers.metrics.foreach { case (m, u) =>
        metrics(s"$l.$m") = (layers(s"$l.$m"), u) })
      metrics("Bench.trace_overhead_pct") = (100.0 * (traced - untraced) / untraced, "%")
      metrics("Bench.unattributed_jobs") = (att("unattributed").toDouble, "count")
      detail("cycle_ops") = k
      detail("untraced_cycle_ms") = untraced
      detail("traced_cycle_ms") = traced
      detail("job_attribution") = att
      detail("spans") = tr.spans.map(s => LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "call" -> s.call,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      if (att("unattributed") > 0) rec.failures += "trace: jobs outside any layer span"
    }
    val calAfter = calibrate(spark)
    val unattributed = metrics.get("Bench.unattributed_jobs").exists(_._1 > 0)
    val correct = genOk && rec.failed == 0 && !unattributed

    // human-readable report: every metric with its unit, then the checks
    println(s"workload=$workload seed=$seed trace=${if (trace) 1 else 0} " +
      s"attempted=${rec.attempted} failed=${rec.failed}")
    metrics.foreach { case (n, (v, u)) => println(f"  $n%-34s $v%.6f $u") }
    detail.get("named_metrics").foreach(_.asInstanceOf[Seq[(String, Double, String)]]
      .foreach { case (n, v, u) => println(f"  $n%-34s $v%.6f $u (workload-specific name)") })
    rec.checks.foreach { case (n, (p, t)) => println(s"  check $n: $p/$t passed") }
    println(s"  check generator.deterministic: ${if (genOk) "passed" else "FAILED"}")
    w match {
      case s: SearchW => println(s"  routed queries served fewer than k rows: " +
        s"${s.shortOfK._1}/${s.shortOfK._2} (their probed cells held fewer)")
      case _ =>
    }
    rec.failures.foreach(f => println(s"  FAILURE $f"))

    val result = LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> LinkedHashMap[String, Any]("value" -> v, "unit" -> u) })
    val env = LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version,
      "calibration_before" -> calBefore, "calibration_after" -> calAfter)
    val artifact = LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "sizes" -> Workload.sizes(workload).toMap, "environment" -> env,
      "input_digest" -> digest, "generator_deterministic" -> genOk,
      "setup_s" -> setupS, "bootstrap_ms" -> rec.bootstrapMs,
      "checks" -> rec.checks.map { case (n, (p, t)) => n -> Seq(p, t) },
      "failures" -> rec.failures.toSeq, "detail" -> detail, "result" -> result)
    w match {
      case s: SearchW =>
        artifact("planted_dups_caught") = Seq(s.plantedDups._1, s.plantedDups._2)
        artifact("routed_tiers") = s.tiers
        artifact("routed_short_of_k") = Seq(s.shortOfK._1, s.shortOfK._2)
        artifact("recall_curve") = s.curve.map(p => Seq(p.tier, p.nProbe, p.rescoreK, p.recall))
      case _ =>
    }
    opt.get("artifact").foreach { a =>
      Files.createDirectories(Paths.get(a).toAbsolutePath.getParent)
      Files.writeString(Paths.get(a), Json(artifact) + "\n")
    }
    spark.stop()
    println(Json(result))
  }

  private def runStep(w: Workload, i: Int, tr: Tracer, rec: Recorder): Unit = {
    rec.begin()
    val threw = try { w.step(i, tr, rec); None }
    catch { case e: Exception => Some(e) }
    rec.end(threw)
  }

  private def calibrate(spark: SparkSession): Map[String, Double] =
    Map("cpu_s" -> graft.BenchProbe.calibrate(spark),
      "disk_s" -> graft.BenchProbe.calibrateDisk())

  /** This workload's metrics under their workload-specific names
    * (`search_tail_ms`, `epoch_p50_s`, ...), printed beside the
    * cross-workload ones. On `search` a median over the mixed call kinds
    * would fall between two kinds, so each kind gets its own median. */
  private def namedMetrics(w: Workload, rec: Recorder): Seq[(String, Double, String)] = {
    val (tp, tv) = tail(rec.opMs.toSeq)
    val err = ("error_rate", rec.failed.toDouble / math.max(1L, rec.attempted), "fraction")
    w match {
      case s: SearchW =>
        val byKind = rec.opMs.indices.groupBy(j => s.kindOf(w.warmupOps + j)).toSeq.sortBy(_._1)
        Seq(err, (s"search_tail_ms[$tp,n=${rec.opMs.size}]", tv, "ms")) ++
          byKind.map { case (kind, js) => (s"search_${kind}_p50_ms", pct(js.map(rec.opMs), 50), "ms") }
      case _ => Seq(err, ("epoch_p50_s", pct(rec.opMs.toSeq, 50) / 1e3, "s"),
        (s"epoch_tail_s[$tp,n=${rec.opMs.size}]", tv / 1e3, "s"),
        ("churn_read_p50_ms", pct(rec.readMs.toSeq, 50), "ms"))
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Linear-interpolated percentile. */
  def pct(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest of p99.9/p99/p95/p90/p75/p50 with at least ten samples
    * beyond it; the maximum when there are fewer than 20 samples. */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => xs.size * (1 - p / 100) >= 10) match {
      case Some(p) => (s"p$p", pct(xs, p))
      case None => ("max", if (xs.isEmpty) Double.NaN else xs.max)
    }
}

/** Minimal JSON writer for the artifact and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case (a, b) => apply(Seq(a, b))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
