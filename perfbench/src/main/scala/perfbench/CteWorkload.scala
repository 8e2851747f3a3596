package perfbench

import graft.cte.{Artifacts, CtePipeline, SchemaRegistry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One generated visit, as listed in the generator's manifest. */
final case class Visit(target: String, index: Int, dir: String, base: Boolean,
                       image1: String, image2: String, slope: Double,
                       fileinfoRows: Long, photRows: Long, bytes: Long)

object CteWorkload {
  /** One pass's figures. `ingest` holds, per fresh visit, the phot rows
    * stored before its ingest and the ingest's latency. */
  final case class PassResult(wall: Double, ingest: Seq[(Long, Double)], refresh: Double,
                              ops: Seq[Double], writeAmp: Double, spaceAmp: Double)

  def manifest(dataDir: String): Seq[Visit] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(Files.readString(Paths.get(dataDir, "manifest.json")))
    root.path("visits").elements().asScala.map { v =>
      Visit(v.path("target").asText, v.path("visit").asInt,
        Paths.get(dataDir, v.path("dir").asText).toString,
        v.path("base").asBoolean, v.path("imagename_1").asText,
        v.path("imagename_2").asText, v.path("slope").asDouble,
        v.path("fileinfo_rows").asLong, v.path("phot_rows").asLong, v.path("bytes").asLong)
    }.toSeq
  }

  /** Files under `root` (relative path → size). */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** How per-visit ingest time grows with the store: a least-squares line
    * of ingest latency on the phot rows already stored, over (rows,
    * latency) points. Returns the line at the largest store size over
    * the line at the smallest, and the share of the line at the smallest
    * size that is proportional to store size. */
  def growth(pts: Seq[(Long, Double)]): (Double, Double) = {
    val xs = pts.map(_._1.toDouble)
    val ys = pts.map(_._2)
    val (mx, my) = (Stats.mean(xs), Stats.mean(ys))
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val b = if (sxx > 0) xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx else 0.0
    val a = my - b * mx
    val (x0, x1) = (xs.min, xs.max)
    ((a + b * x1) / (a + b * x0), b * x0 / (a + b * x0))
  }
}

/** The paper's own lifecycle over `cte.CtePipeline`. Set-up loads a base
  * warehouse and runs an untimed warm-up ([[warmUp]]), so the timed passes
  * run with the ingest, re-ingest and refresh paths compiled. Each timed
  * pass then ingests every target's new visits one at a time
  * (MergeWriter's append path), re-ingests an earlier visit (its rewrite
  * path) and refreshes one target, drawn from the seed: slopes,
  * coefficients, text artifacts and plots. (A warm refresh is about 15 s
  * of mostly fixed per-job cost on 4 cores; refreshing every target
  * would triple the pass.) The warehouse is reset to the base, untimed,
  * before every pass so every pass sees the same store size. One client,
  * closed loop. */
final class CteWorkload(spark: SparkSession, a: Args, sessionS: Double) {
  import CteWorkload._

  require(a.work.nonEmpty, "cte_lifecycle needs --work")
  private val work = Paths.get(a.work)
  private val wh = work.resolve("warehouse")
  private val out = work.resolve("artifacts")

  private var attempted = 0
  private var failed = 0
  private val report = scala.collection.mutable.ArrayBuffer.empty[String]

  // MergeWriter accounting, per pass
  private var upserts = 0
  private var rewrites = 0
  private var bytesWritten = 0L

  private def fail(what: String): Unit = {
    failed += 1
    report += s"[perfbench] cte_lifecycle: $what"
  }

  /** Run `op`, which upserts once into each of `tables`, and record from
    * the tables' file sets before and after it whether each upsert
    * replaced files and how many bytes it wrote. The file sets are read
    * outside the op's own timer. */
  private def accounted[T](tables: String*)(op: => T): T = {
    val before = tables.map(t => files(wh.resolve(t)))
    val r = op
    tables.zip(before).foreach { case (t, was) =>
      val now = files(wh.resolve(t))
      upserts += 1
      if (was.keys.exists(k => k.endsWith(".parquet") && !now.contains(k))) rewrites += 1
      bytesWritten += now.collect { case (k, n) if !was.get(k).contains(n) => n }.sum
    }
    r
  }

  private def ingest(pipe: CtePipeline, v: Visit): Unit = {
    pipe.ingestFileinfo(spark.read.parquet(s"${v.dir}/fileinfo.parquet"))
    pipe.ingestPhot(spark.read.parquet(s"${v.dir}/phot.parquet"))
  }

  /** Reset the warehouse to the base: bulk-load every base visit but the
    * last, then append the last one. The first append after a bulk load
    * costs about 0.4 s more than the appends after it; paying it here
    * keeps it out of the pass's first timed ingest, so ingest latency
    * follows the store size and not the ingest's place in the pass. */
  private def loadBase(visits: Seq[Visit]): Unit = {
    val t0 = System.nanoTime()
    deleteTree(wh)
    deleteTree(out)
    val pipe = new CtePipeline(spark, wh.toString)
    val base = visits.filter(_.base)
    pipe.ingestFileinfo(spark.read.parquet(base.init.map(v => s"${v.dir}/fileinfo.parquet"): _*))
    pipe.ingestPhot(spark.read.parquet(base.init.map(v => s"${v.dir}/phot.parquet"): _*))
    ingest(pipe, base.last)
    spark.catalog.clearCache()
    Main.progress(f"base warehouse loaded in ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** One target's refresh, as a monitor user waits for it. */
  private def refresh(pipe: CtePipeline, t: String, dir: String, tr: Option[Tracer]): Unit = {
    def phase[T](name: String, layer: String)(body: => T): T = tr match {
      case Some(x) => x.span("phase", name, layer)(body)
      case None => body
    }
    phase("slopes", "CteAnalytics.slopes")(pipe.computeSlopes(t))
    val coeffs = phase("build", "CteAnalytics.coeffs")(pipe.computeCoefficients(t))
    val history = phase("build", "CteAnalytics.coeffs")(pipe.coefficientHistory(t))
    phase("exec", "CteAnalytics.coeffs") { coeffs.collect(); history.collect() }
    phase("publish", "CtePipeline.publish")(pipe.publish(t, dir))
    phase("plots", "PlotSink.plots") {
      pipe.publishPlots(t, dir)
      pipe.publishCteVsTimePlot(t, dir)
    }
  }

  /** Untimed warm-up, part of set-up, so the timed passes run compiled
    * code: the base load, every fresh ingest and a re-ingest on the
    * warehouse, and meanwhile, on a second warehouse that holds
    * `target`'s base visits, that target's refresh. (The refresh alone
    * is about 20 s cold; overlapping the two halves keeps set-up short.) */
  private def warmUp(visits: Seq[Visit], target: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val t0 = System.nanoTime()
    val side = Future {
      val dir = work.resolve("warm-up")
      val pipe = new CtePipeline(spark, dir.resolve("warehouse").toString)
      val base = visits.filter(v => v.base && v.target == target)
      pipe.ingestFileinfo(spark.read.parquet(base.map(v => s"${v.dir}/fileinfo.parquet"): _*))
      pipe.ingestPhot(spark.read.parquet(base.map(v => s"${v.dir}/phot.parquet"): _*))
      refresh(pipe, target, dir.resolve("artifacts").toString, None)
      deleteTree(dir)
    }(ExecutionContext.global)
    loadBase(visits)
    val pipe = new CtePipeline(spark, wh.toString)
    visits.filterNot(_.base).foreach(ingest(pipe, _))
    ingest(pipe, visits.filter(_.base).head)
    Await.result(side, Duration.Inf)
    spark.catalog.clearCache()
    Main.progress(f"warm-up done in ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** One timed operation; its latency, or None if it threw. */
  private def timed(tr: Option[Tracer], name: String, layer: String)
                   (body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tr match {
        case Some(x) => x.span("op", name, layer)(body)
        case None => body
      }
      val dt = (System.nanoTime() - t0) / 1e9
      Main.progress(f"$name%s ${dt}%.3f s")
      Some(dt)
    } catch {
      case e: Throwable =>
        fail(s"$name failed: ${e.getMessage}")
        None
    }
  }

  private def pass(visits: Seq[Visit], target: String, rng: scala.util.Random,
                   tr: Option[Tracer]): PassResult = {
    val pipe = new CtePipeline(spark, wh.toString)
    val fresh = visits.filterNot(_.base).sortBy(v => (v.index, v.target))
    val again = rng.shuffle(visits.filter(_.base)).take(1)
    val stored = fresh.scanLeft(visits.filter(_.base).map(_.photRows).sum)(_ + _.photRows)
    upserts = 0; rewrites = 0; bytesWritten = 0L
    val t0 = System.nanoTime()
    val ing = fresh.zip(stored).flatMap { case (v, n) =>
      accounted("fileinfo", "phot")(
        timed(tr, s"ingest ${v.image1}", "CtePipeline.ingest")(ingest(pipe, v))).map(n -> _)
    }
    val re = again.flatMap(v => accounted("fileinfo", "phot")(
      timed(tr, s"reingest ${v.image1}", "CtePipeline.reingest")(ingest(pipe, v))))
    val ref = accounted("results")(
      timed(tr, s"refresh $target", "CtePipeline.refresh")(
        refresh(pipe, target, out.resolve(target).toString, tr))).toSeq
    val end = System.nanoTime()
    spark.catalog.clearCache()
    val userIn = (fresh ++ again).map(_.bytes).sum.toDouble
    val live = visits.map(_.bytes).sum.toDouble
    val onDisk = files(wh).values.sum.toDouble
    PassResult((end - t0) / 1e9, ing, ref.headOption.getOrElse(Double.NaN),
      ing.map(_._2) ++ re ++ ref, bytesWritten / userIn, onDisk / live)
  }

  /** Output checks after a pass; each failed check is a failed operation. */
  private def check(visits: Seq[Visit], target: String): Unit = {
    val fi = spark.read.parquet(wh.resolve("fileinfo").toString).count()
    val ph = spark.read.parquet(wh.resolve("phot").toString).count()
    if (fi != visits.map(_.fileinfoRows).sum || ph != visits.map(_.photRows).sum)
      fail(s"warehouse holds $fi fileinfo / $ph phot rows, generated " +
        s"${visits.map(_.fileinfoRows).sum} / ${visits.map(_.photRows).sum}")
    val results = spark.read.parquet(wh.resolve("results").toString)
      .select("imagename_1", "aperture", "slope", "slopestdev", "numpoints").collect()
    val byImage = results.groupBy(_.getString(0))
    visits.filter(_.target == target).foreach { v =>
      val rows = byImage.getOrElse(v.image1, Array.empty)
      val fitted = rows.filter(_.getInt(4) >= 30)
      val off = fitted.filter(r => math.abs(r.getDouble(2) - v.slope) > r.getDouble(3))
      if (rows.length != SchemaRegistry.apertures.size * SchemaRegistry.fluxBins.size ||
          fitted.isEmpty || off.nonEmpty)
        fail(s"${v.image1}: ${rows.length} result rows, ${fitted.length} fitted, " +
          s"${off.length} outside the planted slope ± slopestdev")
    }
    val dir = out.resolve(target).toFile
    val expected = Seq("slopes", "coeffs", "coeffs_history", "fluxratios", "cteVStime",
      "cteVSflashlvl", "fitvals").map(s => s"${target}_$s/_SUCCESS") ++
      visits.filter(_.target == target).flatMap(v => SchemaRegistry.apertures.map(ap =>
        Artifacts.slopePlotName(v.image1, v.image2, ap))) ++
      SchemaRegistry.apertures.map(ap => s"${target}_cteVStime_r$ap.png")
    val missing = expected.filterNot(n => new File(dir, n).exists())
    if (missing.nonEmpty) fail(s"$target: ${missing.size} artifacts missing, e.g. ${missing.head}")
  }

  def run(): Outcome = {
    val tSetup = System.nanoTime()
    val visits = manifest(a.data)
    val rng = new scala.util.Random(a.seed)
    val targets = visits.map(_.target).distinct
    def nextTarget() = targets(rng.nextInt(targets.size))
    warmUp(visits, nextTarget())
    loadBase(visits)
    val setupS = sessionS + (System.nanoTime() - tSetup) / 1e9

    val passes = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    val heaps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val budget = if (a.trace) a.seconds / 2 else a.seconds
    val tRun = System.nanoTime()
    do {
      if (passes.nonEmpty) loadBase(visits)
      val target = nextTarget()
      Stats.settle()
      passes += pass(visits, target, rng, None)
      check(visits, target)
      heaps += Stats.retainedHeapMb()
    } while ((System.nanoTime() - tRun) / 1e9 < budget)

    def med(f: PassResult => Double) = Stats.median(passes.map(f).toSeq)
    val ingest = passes.flatMap(_.ingest.map(_._2)).toSeq
    val ops = passes.flatMap(_.ops).toSeq
    report += f"[perfbench] cte_lifecycle: ${passes.size} untraced pass(es), ${ops.size} timed ops, " +
      f"fail_frac=${failed.toDouble / attempted}%.4f"
    report += f"[perfbench] cte_lifecycle: ingest_visit_p50_s=${Stats.hdMedian(ingest)}%.4f " +
      f"refresh_s=${med(_.refresh)}%.4f write_amp=${med(_.writeAmp)}%.4f space_amp=${med(_.spaceAmp)}%.4f"
    if (!a.trace) return Outcome(attempted, failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", med(_.wall), "s"),
      Metric("op_p50_s", Stats.hdMedian(ingest), "s"),
      Metric("op_geomean_s", Stats.geomean(ops), "s"),
      Metric("retained_heap_mb", Stats.median(heaps.toSeq), "MB")), report.toSeq)
    val layers = traced(visits, () => nextTarget(), rng, passes.toSeq)
    Outcome(attempted, failed, layers, report.toSeq)
  }

  /** The traced run. Tracing overhead is judged against the last
    * untraced pass; the ingest growth is fitted over the fresh ingests of
    * every timed pass, untraced and traced. */
  private def traced(visits: Seq[Visit], nextTarget: () => String, rng: scala.util.Random,
                     untraced: Seq[PassResult]): Seq[Metric] = {
    val points = scala.collection.mutable.ArrayBuffer(untraced.flatMap(_.ingest): _*)
    val med = TracedRun(spark, a, untraced.last.wall, report,
      "MergeWriter file accounting between operations and cache clearing")(
      () => loadBase(visits)) { t =>
      val target = nextTarget()
      (target, pass(visits, target, rng, Some(t)))
    } { case (inPass, (target, r)) =>
      check(visits, target)
      points ++= r.ingest
      def busy(layer: String) = inPass.filter(_.layer == layer).map(_.dur).sum / 1000
      Map(
        "MergeWriter.upserts" -> upserts.toDouble,
        "MergeWriter.rewrite_frac" -> rewrites.toDouble / upserts,
        "MergeWriter.bytes_written_mb" -> bytesWritten / 1e6,
        "MergeWriter.files" -> files(wh).keys.count(_.endsWith(".parquet")).toDouble,
        "MergeWriter.upsert_s" -> (busy("CtePipeline.ingest") + busy("CtePipeline.reingest")),
        "CteAnalytics.slopes_s" -> busy("CteAnalytics.slopes"),
        "CteAnalytics.coeffs_s" -> busy("CteAnalytics.coeffs"),
        "CtePipeline.publish_s" -> busy("CtePipeline.publish"),
        "PlotSink.plots_s" -> busy("PlotSink.plots"),
        "write_amp" -> r.writeAmp,
        "space_amp" -> r.spaceAmp)
    }
    val (g, share) = growth(points.toSeq)
    val stored = points.map(_._1)
    report += f"[perfbench] cte_lifecycle: ingest growth over ${points.size} fresh ingests, " +
      f"phot store ${stored.min}–${stored.max} rows: ingest_visit_growth=$g%.4f, " +
      f"store-proportional share at ${stored.min} rows=$share%.4f"
    Layers.select(med ++ Map("CtePipeline.ingest_visit_growth" -> g))
  }
}
