package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload <release_cycle|delta_reprocess|curation_lifecycle>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --result <file>
  * }}}
  *
  * Generates the inputs from the seed, sets up (session, prior state,
  * an untimed warm-up), then runs the workload's cycle until
  * `--seconds` have been measured (at least once), checks every cycle's
  * outputs against the generator's expectation, and writes the metrics
  * as JSON to `--result`: end-to-end figures, or with `--trace 1`
  * per-layer figures from traced cycles.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, result: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; expected one of ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("result")).toAbsolutePath)
  }

  val Workloads = Seq("release_cycle", "delta_reprocess", "curation_lifecycle")

  val GenieLayers = Seq("sources.read", "formats.validate", "formats.process", "apps.process_job",
    "operators.upsert", "sources.commit", "release.filters", "release.sinks", "stats.dashboard")
  val LayerStats = Seq("wall_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "jobs")
  /** `PhaseTimer` phases each curation query records. */
  val QueryPhases: Map[String, Seq[String]] = Map(
    "dedup_simhash_incremental" -> Seq("build", "merge"),
    "dedup_retract" -> Seq("build", "merge"),
    "text_bm25_asof" -> Seq("build", "merge"))

  /** Every per-layer metric name, in output order. */
  def perLayerNames: Seq[String] =
    GenieLayers.flatMap(l => LayerStats.map(s => s"$l.$s")) ++
      Seq("apps.md5.wall_s", "apps.md5.skip_ratio", "operators.upsert.changed_ratio",
        "operators.upsert.exchanges", "release.filters.keep_ratio") ++
      Curation.queryOrder.flatMap { q =>
        Seq(s"functions.$q.wall_s", s"functions.$q.shuffle_mb", s"functions.$q.gc_s") ++
          QueryPhases.getOrElse(q, Nil).map(p => s"functions.$q.${p}_s")
      } ++ Seq("other.wall_s", "trace.cycle_s", "trace_overhead_pct")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** What one cycle measured, plus the outputs it got wrong. */
  final case class Cycle(seconds: Double, cpuS: Double, shuffleMb: Double, units: Seq[Double],
                         wrong: Seq[String], spans: Seq[Span], ratios: Map[String, Double],
                         phases: Map[String, Map[String, Double]])

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val exit = run(args)
    sys.exit(exit)
  }

  def run(args: Args): Int = {
    val t00 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t00) / 1e9
    val tr = new Trace(spark, listener)
    try {
      deleteTree(args.work)
      Files.createDirectories(args.work)
      val w: Workload = args.workload match {
        case "release_cycle" => new ReleaseCycle(spark, tr, args)
        case "delta_reprocess" => new DeltaReprocess(spark, tr, args)
        case _ => new CurationLifecycle(spark, tr, args)
      }
      val g0 = System.nanoTime()
      w.generate()
      val genS = (System.nanoTime() - g0) / 1e9
      System.err.println(f"[perfbench] generated inputs in $genS%.2f s (not part of setup_s)")
      val s0 = System.nanoTime()
      w.setup()
      val w0 = System.nanoTime()
      w.warmUp()
      val setupOnceS = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[perfbench] warm-up took ${(System.nanoTime() - w0) / 1e9}%.2f s (part of setup_s)")

      // cycles until --seconds are measured (at least one), all traced
      // or all not
      val cycles = mutable.ArrayBuffer.empty[Cycle]
      val prepS = mutable.ArrayBuffer.empty[Double]
      while (cycles.isEmpty || cycles.map(_.seconds).sum < args.seconds) {
        val i = cycles.size
        val p0 = System.nanoTime()
        w.prepare(i)
        prepS += (System.nanoTime() - p0) / 1e9
        tr.traced = args.trace
        tr.runId = s"c$i"
        tr.clearSpans()
        cycles += w.cycle(i)
        tr.traced = false
        System.err.println(f"[perfbench] cycle $i: ${cycles.last.seconds}%.3f s, units " +
          cycles.last.units.map(u => f"$u%.3f").mkString(" "))
      }
      val setupS = sessionS + setupOnceS + median(prepS.toSeq)
      val wrong = cycles.flatMap(_.wrong).distinct
      wrong.take(20).foreach(x => System.err.println(s"[perfbench] wrong output: $x"))
      tr.failures.foreach(f => System.err.println(s"[perfbench] failed call: ${f.span}: ${f.error}"))
      val done = cycles.toSeq
      val metrics: Seq[(String, Double, String, Int)] =
        if (!args.trace) Seq(
          ("cycle_s", median(done.map(_.seconds)), "s", done.size),
          ("center_turnaround_s_p50", median(done.map(c => median(c.units))), "s",
            done.map(_.units.size).sum),
          ("cpu_s", median(done.map(_.cpuS)), "s", done.size),
          ("shuffle_mb", median(done.map(_.shuffleMb)), "MB", done.size),
          ("peak_rss_mb", peakRssMb, "MB", 1),
          ("setup_s", setupS, "s", prepS.size))
        else layerMetrics(done, tr)
      val json = new StringBuilder
      json ++= "{\"workload\":\"" + args.workload + "\",\"attempted\":" + tr.attempted +
        ",\"failed\":" + tr.failures.size + ",\"wrong_outputs\":" + wrong.size +
        ",\"cycles\":" + cycles.size + ",\"metrics\":{"
      json ++= metrics.map { case (n, v, u, k) =>
        "\"" + n + "\":{\"value\":" + (if (v.isNaN || v.isInfinite) "0" else v.toString) +
          ",\"unit\":\"" + u + "\",\"samples\":" + k + "}"
      }.mkString(",")
      json ++= "},\"shares\":{" + w.shares.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",") + "}"
      json ++= ",\"curation_out\":\"" + w.checkDir.map(_.toString).getOrElse("") + "\""
      json ++= ",\"spans\":[" + done.flatMap(_.spans).map(spanJson(_, listener)).mkString(",") + "]}"
      Files.writeString(args.result, json.toString)
      0
    } finally spark.stop()
  }

  /** One span with the task totals attributed to it. */
  private def spanJson(s: Span, listener: BenchListener): String = {
    val t = listener.totals(s"${s.runId}/${s.id}")
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"cpu_s":${t.cpuNs / 1e9},""" +
      s""""gc_s":${t.gcMs / 1e3},"shuffle_mb":${t.shuffleBytes / 1e6},""" +
      s""""spill_mb":${t.spillBytes / 1e6},"jobs":${t.jobs}}"""
  }

  /** Per-layer figures: medians over the traced cycles. The tracing
    * overhead is the time the tracing code itself spent (opening and
    * closing spans on the driver thread, attributing jobs and tasks in
    * the listener) as a share of the cycle.
    */
  def layerMetrics(cycles: Seq[Cycle], tr: Trace): Seq[(String, Double, String, Int)] = {
    val perCycle: Seq[Map[String, Double]] = cycles.map { c =>
      val layers = Trace.layers(c.spans, tr.listener)
      val m = mutable.Map.empty[String, Double]
      layers.foreach { case (name, st) =>
        m(s"$name.wall_s") = st.wallS
        m(s"$name.cpu_s") = st.cpuS
        m(s"$name.gc_s") = st.gcS
        m(s"$name.shuffle_mb") = st.shuffleMb
        m(s"$name.spill_mb") = st.spillMb
        m(s"$name.jobs") = st.jobs.toDouble
      }
      c.phases.foreach { case (q, ph) => ph.foreach { case (p, v) => m(s"functions.$q.${p}_s") = v } }
      m ++= c.ratios
      m("other.wall_s") = math.max(0.0, c.seconds - layers.values.map(_.wallS).sum)
      m("trace.cycle_s") = c.seconds
      m.toMap
    }
    val total = cycles.map(_.seconds).sum
    val overheadS = (tr.spanNs + tr.listener.attributionNs.get()) / 1e9
    perLayerNames.map { n =>
      val unit =
        if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MB"
        else if (n.endsWith("_pct")) "%" else if (n.endsWith("ratio")) "ratio" else "count"
      if (n == "trace_overhead_pct") (n, if (total > 0) 100.0 * overheadS / total else 0.0, unit, cycles.size)
      else (n, median(perCycle.map(_.getOrElse(n, 0.0))), unit, cycles.size)
    }
  }

  /** One workload: inputs, one-time setup, an untimed warm-up,
    * per-cycle preparation, and the timed cycle (which also checks its
    * own outputs, untimed).
    */
  abstract class Workload(val spark: SparkSession, val tr: Trace, val args: Args) {
    def generate(): Unit
    def setup(): Unit
    /** Runs the cycle's calls once, untimed, so that the timed cycles
      * find the JIT and Spark's codegen cache warm: a cold first cycle
      * is mostly compilation, whose length follows the host's load.
      * Part of `setup_s`.
      */
    def warmUp(): Unit
    def prepare(i: Int): Unit
    def cycle(i: Int): Cycle
    def shares: Seq[(String, Double)]
    def checkDir: Option[Path] = None

    /** Time `f` as the cycle's measured region. */
    protected def timed(f: => Seq[Double]): (Double, Double, Double, Seq[Double]) = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val sh0 = tr.listener.globalShuffleBytes
      val c0 = processCpuNs
      val t0 = System.nanoTime()
      val units = f
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs - c0) / 1e9
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      (secs, cpu, (tr.listener.globalShuffleBytes - sh0) / 1e6, units)
    }
  }

  /** Cold consortium cycle: validate, process, release, dashboard. */
  final class ReleaseCycle(spark: SparkSession, tr: Trace, args: Args) extends Workload(spark, tr, args) {
    private val uploads = args.work.resolve("uploads")
    private var truth: Gen.CycleTruth = _
    private val genie = new Genie(spark, tr)
    private def centers = truth.centers.map(_.center)

    def generate(): Unit = truth = Gen.cycle(uploads, args.seed, Gen.Scale())
    def setup(): Unit = ()

    /** Every center's upload processed once, into a state set aside. */
    def warmUp(): Unit = {
      val dir = args.work.resolve("warm")
      centers.foreach(c => genie.processCenter(uploads, dir, c))
      deleteTree(dir)
    }

    def prepare(i: Int): Unit = deleteTree(args.work.resolve("run"))

    def cycle(i: Int): Cycle = {
      val state = args.work.resolve("run/state")
      val out = args.work.resolve("run/out")
      var verdicts = Map.empty[String, Boolean]
      val (secs, cpu, sh, units) = timed {
        verdicts = genie.validate(uploads, centers)
        val runs = centers.flatMap(c => genie.processCenter(uploads, state, c))
        genie.processReleaseInputs(uploads, state, centers, verdicts)
        genie.release(state, centers, out)
        runs.map(_.seconds)
      }
      val released = scala.util.Try(genie.releasedSets(out)).toOption
      val wrong = Check.release(truth, verdicts, released)
      val input = truth.centers.filterNot(_.invalidKinds("maf")).map(_.variants.size).sum
      val md5 = if (tr.traced) Map("apps.md5.wall_s" -> genie.md5Seconds(uploads, centers)) else Map.empty
      val ratios = Map("apps.md5.skip_ratio" -> 0.0) ++ md5 ++ released.map { case (_, v) =>
        "release.filters.keep_ratio" -> v.size.toDouble / math.max(1, input)
      }
      Cycle(secs, cpu, sh, units, wrong, tr.recorded, ratios, Map.empty)
    }

    def shares: Seq[(String, Double)] = {
      val files = truth.verdicts.size.toDouble
      val vs = truth.centers.flatMap(_.variants)
      val n = vs.size.toDouble
      val cis = truth.centers.flatMap(c => c.variants.filter(v => c.cisSamples(v.sample)))
      val samples = truth.centers.flatMap(_.samples)
      Seq(
        "invalid_file_share" -> truth.verdicts.values.count(!_) / files,
        "out_of_panel_variant_share" -> vs.count(_.kind == "out_of_panel") / n,
        "germline_variant_share" -> vs.count(_.kind == "germline") / n,
        "in_cis_sample_variant_share" -> cis.size / n,
        "deprecated_oncotree_sample_share" -> samples.count(_.oncotree == Gen.deprecatedCode).toDouble / samples.size,
        "maf_rows" -> n, "samples" -> samples.size.toDouble, "files" -> files)
    }
  }

  /** Second upload of every center against the cycle-1 state. */
  final class DeltaReprocess(spark: SparkSession, tr: Trace, args: Args) extends Workload(spark, tr, args) {
    private val uploads1 = args.work.resolve("uploads1")
    private val uploads2 = args.work.resolve("uploads2")
    private val pristine = args.work.resolve("state1")
    private val state = args.work.resolve("run/state")
    private var truth: Gen.CycleTruth = _
    private var delta: Gen.DeltaTruth = _
    private val genie = new Genie(spark, tr)
    private def centers = truth.centers.map(_.center)
    private val pk = Seq("CHROMOSOME", "START_POSITION", "REFERENCE_ALLELE",
      "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2")

    def generate(): Unit = {
      truth = Gen.cycle(uploads1, args.seed, Gen.Scale())
      delta = Gen.delta(uploads1, uploads2, args.seed, truth)
    }

    def setup(): Unit = {
      // prior state: cycle 1 processed and committed, kept pristine
      centers.foreach(c => genie.processCenter(uploads1, pristine, c))
    }

    def prepare(i: Int): Unit = {
      deleteTree(args.work.resolve("run"))
      copyTree(pristine, state)
    }

    /** The set-up is the warm-up: it runs every center's first upload
      * through `ProcessJob.run` and the commit. Only the upserts stay
      * cold for the timed cycle; a second untimed upload would add
      * about 7 s to every run for them.
      */
    def warmUp(): Unit = ()

    def cycle(i: Int): Cycle = {
      var runs = Seq.empty[Genie#CenterRun]
      val (secs, cpu, sh, units) = timed {
        runs = centers.flatMap(c => genie.processCenter(uploads2, state, c))
        runs.map(_.seconds)
      }
      val wrong = mutable.ArrayBuffer.empty[String]
      if (runs.size != centers.size) wrong += s"${centers.size - runs.size} center runs did not complete"
      val skipped = runs.flatMap(_.skipped).toSet
      if (skipped != delta.skipped)
        wrong += s"md5-skipped files: got ${skipped.toSeq.sorted}, expected ${delta.skipped.toSeq.sorted}"
      import spark.implicits._
      val maf = genie.centerUnion(state, centers, "maf")
      val got = maf.select(col("TUMOR_SAMPLE_BARCODE"), col("CHROMOSOME"),
          col("START_POSITION").cast("long"), col("T_ALT_COUNT").cast("int"))
        .as[(String, String, Long, Int)].collect()
      if (got.length != got.distinct.length) wrong += "maf table holds duplicate rows"
      val gotSet = got.toSet
      if (gotSet != delta.mafRows)
        wrong += s"maf table: ${(gotSet -- delta.mafRows).size} extra, ${(delta.mafRows -- gotSet).size} missing rows"
      val clin = genie.centerUnion(state, centers, "clinical")
        .select("SAMPLE_ID", "AGE_AT_SEQ_REPORT").as[(String, String)].collect().toMap
      if (clin != delta.clinicalAges)
        wrong += s"clinical table: ${clin.size} rows vs ${delta.clinicalAges.size} expected or values differ"
      val ratios = mutable.Map.empty[String, Double]
      val files = runs.map(_.statuses.size).sum
      ratios("apps.md5.skip_ratio") = runs.flatMap(_.skipped).size.toDouble / math.max(1, files)
      if (tr.traced) {
        ratios("apps.md5.wall_s") = genie.md5Seconds(uploads2, centers)
        // share of the committed maf rows the upload changed, by the
        // program's own diff against the cycle-1 table
        val before = genie.centerUnion(pristine, centers, "maf")
        val counts = graft.operators.Upsert.kindCounts(maf, before, pk)
          .as[(String, Long)].collect().toMap
        ratios("operators.upsert.changed_ratio") =
          (counts.getOrElse("append", 0L) + counts.getOrElse("update", 0L)).toDouble / math.max(1L, got.length)
        ratios("operators.upsert.exchanges") = upsertExchanges
      }
      Cycle(secs, cpu, sh, units, wrong.toSeq, tr.recorded, ratios.toMap, Map.empty)
    }

    /** Shuffle exchanges in the plan of the maf upsert as committed. */
    private def upsertExchanges: Double = {
      val c = delta.changedCenters.head
      val existing = spark.read.parquet(genie.centerState(pristine, c).resolve("tables/maf").toString)
      val incoming = graft.sources.Maf.read(spark,
        uploads2.resolve(s"$c/data_mutations_extended_$c.txt").toString)
      val merged = graft.operators.Upsert.merge(incoming, existing, pk, allowDelete = false)
      val plan = merged.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }.size.toDouble
    }

    def shares: Seq[(String, Double)] = {
      val files1 = truth.verdicts.size.toDouble
      val mafRows = truth.centers.filterNot(_.invalidKinds("maf")).map(_.variants.size).sum.toDouble
      Seq(
        "delta_changed_file_share" -> (delta.changedCenters.size + 1 + 2).toDouble / (files1 + 2),
        "delta_changed_row_share" -> (delta.updatedRows + delta.appendedRows) / mafRows,
        "delta_updated_rows" -> delta.updatedRows.toDouble,
        "delta_appended_rows" -> delta.appendedRows.toDouble,
        "delta_retracted_samples" -> delta.retractedSamples.size.toDouble,
        "maf_rows" -> mafRows)
    }
  }

  /** The curation query sequence over a generated corpus. */
  final class CurationLifecycle(spark: SparkSession, tr: Trace, args: Args) extends Workload(spark, tr, args) {
    private val corpus = args.work.resolve("corpus")
    private val out = args.work.resolve("curation_out")
    override def checkDir: Option[Path] = Some(out)

    def generate(): Unit = Curation.writeCorpus(spark, corpus, args.seed, Gen.Scale())
    def setup(): Unit = ()

    /** A whole pass, its outputs set aside. */
    def warmUp(): Unit = {
      val dir = args.work.resolve("warm")
      Curation.pass(spark, tr, corpus, dir)
      deleteTree(dir)
    }

    def prepare(i: Int): Unit = Curation.resetBetweenPasses(spark)

    def cycle(i: Int): Cycle = {
      var runs = Seq.empty[Curation.QueryRun]
      val (secs, cpu, sh, units) = timed {
        runs = Curation.pass(spark, tr, corpus, out)
        runs.map(_.seconds)
      }
      Curation.writeOracleSql(out)
      val wrong =
        if (runs.size == Curation.queryOrder.size) Nil
        else Seq(s"${Curation.queryOrder.size - runs.size} queries produced no output")
      Cycle(secs, cpu, sh, units, wrong, tr.recorded, Map.empty,
        runs.map(r => r.name -> r.phases).toMap)
    }

    def shares: Seq[(String, Double)] = {
      val (docs, vecs) = Gen.corpus(args.seed, Gen.Scale())
      Seq(
        "near_dup_doc_share" -> docs.count(_.text.split(' ').contains("dup")).toDouble / docs.size,
        "docs" -> docs.size.toDouble, "vectors" -> vecs.size.toDouble)
    }
  }
}
