package perfbench

import graft.{GraftSession, SparkEntry}
import graft.operators.{Graph, IvfPqIndex}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** The query workload. Each operation is one `SparkEntry` query:
  * `SparkEntry.queries(name)(spark, dir)` then a `noop` write, followed by
  * the same per-query hygiene as `graft.Bench` (`Graph.release`,
  * `clearCache`). One client, closed loop: the next query starts when
  * the previous one has finished. */
object QueryWorkload {

  /** Query → pack; the pack names are the `graft.operators`
    * objects the queries live in. Every pack is represented, and so is
    * every query whose own busy time the trace reports; the rest of each
    * pack is left out so that a run fits its time budget (see README). */
  val packs: Seq[(String, Seq[String])] = Seq(
    "Statistical" -> Seq("a2_sigma_clip", "a6_gram_sums", "c2_cte_funnel"),
    "Relational" -> Seq("q1_pricing_agg"),
    "WindowedScalar" -> Seq("w4_grouped_topk"),
    "Skew" -> Seq("x3_bloom_prune"),
    "Sketch" -> Seq("k3_bottomk_quantiles"),
    "GraphQueries" -> Seq("gr6_bfs_fixpoint"),
    "CorpusCuration" -> Seq("c1_curation_funnel"),
    "Dedup" -> Seq("d6_char_jaccard"),
    "TextAnalysis" -> Seq("t4_fingerprint"),
    "Similarity" -> Seq("v12_pq_codes", "v13_ivf_pq_probe"))

  /** Queries whose own busy time is reported in the trace. */
  val hot: Set[String] = Set("a2_sigma_clip", "a6_gram_sums", "c2_cte_funnel",
    "x3_bloom_prune", "gr6_bfs_fixpoint", "c1_curation_funnel", "d6_char_jaccard",
    "v12_pq_codes")

  /** Queries that probe the persisted IVF-PQ index. */
  val needsIndex: Set[String] = Set("v13_ivf_pq_probe")
}

final class QueryWorkload(spark: SparkSession, a: Args, sessionS: Double) {
  import QueryWorkload._

  private val packOf: Map[String, String] =
    packs.flatMap { case (p, qs) => qs.map(_ -> p) }.toMap
  private val names: Seq[String] = packOf.keys.toSeq.sorted
  private val fns = SparkEntry.queries
  names.foreach(n => require(fns.contains(n), s"query $n is not in SparkEntry.queries"))

  private val rng = new scala.util.Random(a.seed)
  private var attempted = 0
  private var failed = 0
  private val report = scala.collection.mutable.ArrayBuffer.empty[String]

  private def hygiene(df: org.apache.spark.sql.DataFrame): Unit = {
    Graph.release(df)
    spark.catalog.clearCache()
  }

  /** One timed operation; returns its latency, or None if it threw. */
  private def runQuery(name: String, tracer: Option[Tracer]): Option[Double] = {
    attempted += 1
    def phase[T](p: String)(body: => T): T = tracer match {
      case Some(t) => t.span("phase", p, s"${packOf(name)}.$name")(body)
      case None => body
    }
    val t0 = System.nanoTime()
    try {
      val df = phase("build")(fns(name)(spark, a.data))
      phase("exec")(df.write.format("noop").mode("overwrite").save())
      val dt = (System.nanoTime() - t0) / 1e9
      hygiene(df)
      Main.progress(f"$name%s ${dt}%.3f s")
      Some(dt)
    } catch {
      case e: Throwable =>
        failed += 1
        spark.catalog.clearCache()
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        None
    }
  }

  /** One pass over every query, in an order drawn from the seed. */
  private def pass(tracer: Option[Tracer]): (Double, Seq[(String, Double)]) = {
    val order = rng.shuffle(names)
    val t0 = System.nanoTime()
    val lat = order.flatMap { n =>
      val r = tracer match {
        case Some(t) => t.span("op", n, packOf(n))(runQuery(n, tracer))
        case None => runQuery(n, None)
      }
      r.map(n -> _)
    }
    ((System.nanoTime() - t0) / 1e9, lat)
  }

  /** Golden row count and digest per query, for this workload and scale. */
  private def goldens(): Map[String, (Long, String)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(Files.readString(Paths.get(a.goldens)))
      .path(a.workload).path(a.scale)
    val missing = names.filter(n => root.path(n).isMissingNode)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"${a.goldens} has no goldens for ${a.workload} " +
        s"at scale ${a.scale}: ${missing.mkString(", ")}")
    names.map(n => n -> (root.path(n).path("rows").asLong, root.path(n).path("digest").asText)).toMap
  }

  /** Untimed first execution of every query at the benchmark's size: pays
    * code generation and the queries' lazily built side tables, and
    * checks each result's row count and digest against the goldens. The
    * queries run concurrently, one per core (most of their stages are
    * single-task), so this costs about a pass, not several; the IVF-PQ
    * index build overlaps them. */
  private def checkPass(): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val want = goldens()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(GraftSession.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val t0 = System.nanoTime()
      val index = Future {
        IvfPqIndex.ensure(spark, a.data)
        Main.progress(f"index built ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      val checks = names.map { n =>
        Future {
          if (needsIndex(n)) Await.result(index, Duration.Inf)
          val q0 = System.nanoTime()
          val df = fns(n)(spark, a.data)
          val d = Digest.of(df)
          Graph.release(df)
          Main.progress(f"checked $n ${(System.nanoTime() - q0) / 1e9}%.3f s")
          val (rows, hex) = want(n)
          if (rows == d.rows && hex == d.hex) None
          else Some(s"$n: result rows=${d.rows} digest=${d.hex}, golden rows=$rows digest=$hex")
        }.recover { case e: Throwable => Some(s"$n failed in the check pass: ${e.getMessage}") }
      }
      Await.result(index, Duration.Inf)
      checks.foreach { f =>
        attempted += 1
        Await.result(f, Duration.Inf).foreach { why =>
          failed += 1
          report += s"[perfbench] $why"
        }
      }
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }

  /** Writes each query's result and the oracle SQL under `dir`, with the
    * digests, for validating goldens against DuckDB. */
  private def dump(dir: String): Outcome = {
    val sb = new StringBuilder
    names.foreach { n =>
      val df = fns(n)(spark, a.data)
      df.write.mode("overwrite").parquet(s"$dir/$n")
      hygiene(df)
      val d = Digest.of(spark.read.parquet(s"$dir/$n"))
      sb.append(s"""${if (sb.isEmpty) "" else ","}"$n":{"rows":${d.rows},"digest":"${d.hex}"}""")
    }
    Files.writeString(Paths.get(s"$dir/digests.json"), s"{$sb}\n")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => packOf.contains(k) }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      oracle.map { case (k, v) => s""""$k":"${Json.esc(v)}"""" }.mkString("{", ",", "}\n"))
    Outcome(names.size, 0, Nil, Seq(s"[perfbench] dumped ${names.size} results to $dir"))
  }

  def run(): Outcome = {
    val t0 = System.nanoTime()
    a.dump.foreach { d =>
      IvfPqIndex.ensure(spark, a.data)
      return dump(d)
    }
    checkPass()
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9

    // Untraced passes until the run length is used (at least one).
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lats = scala.collection.mutable.ArrayBuffer.empty[Double]
    val heaps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val budget = if (a.trace) a.seconds / 2 else a.seconds
    val tRun = System.nanoTime()
    do {
      Stats.settle()
      val (w, l) = pass(None)
      walls += w
      lats ++= l.map(_._2)
      heaps += Stats.retainedHeapMb()
    } while ((System.nanoTime() - tRun) / 1e9 < budget || (a.trace && walls.size < 2))
    if (lats.isEmpty) throw new IllegalStateException("every query failed")

    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", Stats.median(walls.toSeq), "s"),
      Metric("op_p50_s", Stats.hdMedian(lats.toSeq), "s"),
      Metric("op_geomean_s", Stats.geomean(lats.toSeq), "s"),
      Metric("retained_heap_mb", Stats.median(heaps.toSeq), "MB"))
    report += f"[perfbench] ${a.workload}: ${walls.size} untraced pass(es) of ${names.size} queries, " +
      f"${lats.size} timed ops, fail_frac=${failed.toDouble / attempted}%.4f"
    if (!a.trace) return Outcome(attempted, failed, e2e, report.toSeq)
    // tracing overhead is judged against the last, warmest untraced pass
    val layers = traced(walls.last)
    Outcome(attempted, failed, layers, report.toSeq)
  }

  /** The traced run: passes with the listener registered. */
  private def traced(untracedWall: Double): Seq[Metric] = {
    val med = TracedRun(spark, a, untracedWall, report,
      "the benchmark's loop between queries; each query's hygiene is inside its operation")(
      () => ())(t => pass(Some(t))) {
      (inPass, _) => inPass.filter(o => o.kind == "op" && hot(o.name))
        .map(o => s"${o.layer}.${o.name}_s" -> o.dur / 1000).toMap
    }
    Layers.select(med ++ Layers.readOnly)
  }
}
