package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Three timed runs per query, report the min: the first run carries JIT
    // / codegen warmup, and this host shows multi-second CPU-steal bursts
    // (identical plans measured 1.6s and 12.9s across runs), so a single
    // sample badly misattributes cost. Samples are taken ROUND-ROBIN (three
    // full passes over the query list, not three back-to-back runs per
    // query): a multi-second steal burst then inflates one sample of many
    // queries instead of all three samples of one — BENCH_r03 showed 3-9x
    // inflation on queries whose code had not changed, consistent with
    // bursts outlasting a back-to-back triple. The noop sink executes the
    // FULL plan (count() lets EliminateSorts drop top-level ORDER BYs,
    // under-billing sorted queries). A failing query is recorded by name
    // and poisons the total — never silently timed as near-zero.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // The canonical artifact (BENCH_FULL.json) is the per-query map of the
    // primary run: full registry, every cpu of this host, sf0.1. Everything
    // else — a low-cpu scaling run, SPARK_GRAFT_ONLY local iteration, smoke
    // SFs — goes to a variant filename so it can never clobber the primary
    // map (r13 lost the 32-cpu map to the c8 scaling run this way).
    val sfName = new java.io.File(sfDir).getName
    val fullMapName =
      if (only.isEmpty && cpus == Runtime.getRuntime.availableProcessors.toString &&
          sfName == "sf0.1") "BENCH_FULL.json"
      else s"BENCH_FULL_c${cpus}_$sfName" +
        (if (only.nonEmpty) "_filtered" else "") + ".json"
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    // Artifact-cache telemetry (judge directive r9 #8): with the shared
    // train-once/deploy-many model cache under /tmp/graft_models (BPE
    // merges, k-means codebooks), per-query times depend on RUN ORDER —
    // whichever consumer runs first in a fresh environment pays the train.
    // Record which samples cold-trained so artifact-cold and artifact-warm
    // timings are separable in BENCH_FULL.json.
    val coldHits = scala.collection.mutable.Map.empty[String, Int]
    def runPass(pass: Iterable[String]): Unit = for (name <- pass) {
      val t0 = System.nanoTime()
      val trains0 = ModelTelemetry.trains.get()
      try {
        SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples.getOrElse(name, Nil)
        if (ModelTelemetry.trains.get() > trains0)
          coldHits(name) = coldHits.getOrElse(name, 0) + 1
      } catch {
        case NonFatal(e) =>
          errors.getOrElseUpdate(name, e.toString.linesIterator.next().take(200))
      }
      // localCheckpoint blocks persist past their query; dropping them
      // between queries keeps one query's cache from squeezing the next
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    for (_ <- 1 to 3) runPass(names)
    val results = names.map(n => n -> samples.get(n).map(_.min).getOrElse(-1.0))
    // 3-decimal (ms) precision: full doubles made the ~80-query JSON line
    // big enough to overflow the driver's output-tail capture (BENCH_r03
    // recorded parsed:null with the line's head cut off mid-JSON)
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) =>
      // strip control chars too — a tab inside an exception message must
      // not break the single-JSON-line output contract
      val safe = v.replace("\\", "\\\\").replace("\"", "\\\"").filter(_ >= ' ')
      "\"" + k + "\":\"" + safe + "\""
    }.mkString("{", ",", "}")
    // any errored query poisons the headline total to -1: a broken bench
    // must never read as a fast one
    val total = if (errors.nonEmpty) -1.0 else results.map(_._2).sum
    // Output contract, revised r9: the driver captures only the LAST 2000
    // BYTES of stdout (measured: BENCH_r08.json tail is exactly 2000B), so
    // a ~4KB 186-query map can never survive the tail no matter how it is
    // split across lines. The complete per-query map therefore goes to a
    // FILE in the repo root (BENCH_FULL.json, overwritten per run) that the
    // judge reads whole, and stdout carries only what fits in 2000B:
    //   1. the full per-query line FIRST (truncated in capture, fine — the
    //      file is authoritative; kept for local runs and redundancy),
    //   2. per-prefix-group subtotals (~250B — regression triage at a
    //      glance even if the file is ever lost),
    //   3. the 12 slowest queries individually (~400B — the keys a judge
    //      audits for plan regressions),
    //   4. the short headline total line LAST (<200B, always survives).
    // order_index = position in the (sorted) run sequence; cold_hits maps
    // each key that cold-trained a model artifact during this run to how
    // many of its samples paid a train (file-only — too big for stdout)
    val orderIdx = names.zipWithIndex
      .map { case (k, i) => "\"" + k + "\":" + i }.mkString("{", ",", "}")
    val colds = coldHits.toSeq.sortBy(_._1)
      .map { case (k, c) => "\"" + k + "\":" + c }.mkString("{", ",", "}")
    // Per-query sample stats (judge directive r12 #3): `queries` stays the
    // min (the authoritative per-query figure), but storm adjudication needs
    // the spread — a key whose min ≈ median is a real cost; min << median is
    // a steal-window read. File-only (too big for the 2000B stdout tail).
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val sampleStats = names.map { n =>
      val xs = samples.getOrElse(n, Nil)
      val body =
        if (xs.isEmpty) "{\"min\":-1.0,\"median\":-1.0,\"n_samples\":0}"
        else "{\"min\":" + fmt(xs.min) + ",\"median\":" + fmt(median(xs)) +
          ",\"n_samples\":" + xs.length + "}"
      "\"" + n + "\":" + body
    }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"per_query","unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"total":${fmt(total)},"order_index":$orderIdx,"cold_hits":$colds,"samples":$sampleStats}"""
    try {
      val repoDir = new java.io.File("/root/repo")
      val outFile = new java.io.File(if (repoDir.isDirectory) repoDir else new java.io.File(sys.props("user.dir")), fullMapName)
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case NonFatal(_) => () } // file emission is best-effort; stdout contract stands alone
    println(fullJson)
    // group key: "q1_agg" → "q" (the relational family), otherwise the
    // prefix before the first underscore ("ann", "dd", "ev", ...)
    def groupOf(n: String): String = {
      val p = n.takeWhile(_ != '_')
      if (p.length > 1 && p.head == 'q' && p.tail.forall(_.isDigit)) "q" else p
    }
    val groups = results.groupBy(r => groupOf(r._1)).toSeq.sortBy(_._1)
      .map { case (g, rs) => "\"" + g + "\":" + fmt(rs.map(_._2).sum) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"group_totals","unit":"sec","groups":$groups}""")
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"slowest","unit":"sec","queries":$slowest,"full_map":"$fullMapName"}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
