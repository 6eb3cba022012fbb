package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The operators layer's probe, run by `capture_scan`'s traced run: a
  * pinned, stratified sample of `SparkEntry.queries`, one at a time in one
  * session over the benchmark's own copy of the sf0.01 test tables, in an
  * order drawn from the seed.
  *
  * The sample is every fortieth query of each family in name order, among
  * the queries that run without the reference capture, plus the two
  * contract queries `graft.Bench` asserts. Each query's row count is
  * pinned; t13's LSH recall and m12's CDC invariants are re-asserted. */
object QuerySweep {
  val Cores = 4

  /** Query → pinned row count on the bundled sf0.01 tables. */
  val Pinned: Seq[(String, Long)] = Seq(
    "a10_rollup" -> 31L, "a47_mann_whitney" -> 5L,
    "e10_ivf_persisted" -> 50L, "f10_url_routing" -> 10000L,
    "g1_pagerank" -> 20L, "j10_scd2" -> 8016L, "k3_json_projection" -> 1500L,
    "l1_zorder" -> 16L, "m10_cas_savings" -> 20L, "m12_cdc_dedup" -> 20L,
    "p10_base64_roundtrip" -> 2000L, "r1_gap_detect" -> 150L,
    "s10_equidepth" -> 10L, "sc1_string_funcs" -> 1500L,
    "t10_dedup_resolve" -> 500L, "t13_lsh_recall" -> 1L,
    "t46_exactsubstr_rewrite" -> 500L, "ts12_stats_doc" -> 1L,
    "v1_expectations" -> 7L, "w10_range_frame" -> 10000L,
    "w8_session_agg" -> 9549L, "z38_j20_20x" -> 3L)

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  def family(q: String): String = q.takeWhile(_.isLetter)

  /** A query that needs the reference capture fails with the capture's
    * path in its message; it is excluded, neither timed nor failed. */
  def missingCapture(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage))
      .collectFirst { case m if m.contains("Input path does not exist") &&
        m.contains(graft.ts.TsPipeline.DefaultCapture) =>
        graft.ts.TsPipeline.DefaultCapture }

  final case class QueryRun(name: String, wallS: Double, cpuS: Double,
      rows: Long, excluded: Option[String])

  /** Contract checks `graft.Bench` makes on two queries' rows. */
  def contract(name: String, df: DataFrame): (Long, Option[String]) =
    name match {
      case "t13_lsh_recall" =>
        val r = df.collect()
        val miss = r.map(_.getAs[Long]("n_missing_from_lsh")).sum
        (r.length.toLong, if (miss == 0L) None
          else Some(s"t13: $miss exact pairs missing from the LSH pair set"))
      case "m12_cdc_dedup" =>
        val r = df.collect()
        val bad = r.count(x => x.getAs[Long]("cdc_extra_saved") < 0L ||
          x.getAs[Long]("bytes_unique") > x.getAs[Long]("bytes_unique_whole"))
        (r.length.toLong, if (bad == 0) None
          else Some(s"m12: $bad formats where chunking saves less than " +
            "whole-asset dedup"))
      case _ => (df.count(), None)
    }

  /** One pass over the sample in `order`, checking every query. */
  def pass(s: SparkSession, data: String, order: Seq[String], out: Outcome,
      t: Trace, after: String => Unit = _ => ()): Seq[QueryRun] = {
    val qs = SparkEntry.queries
    val pinned = Pinned.toMap
    order.map { name =>
      val c0 = Proc.cpuNs()
      val t0 = System.nanoTime()
      val res = try t.span(s"query.$name") {
        val (rows, broken) = contract(name, qs(name)(s, data))
        Right((rows, broken))
      } catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Proc.cpuNs() - c0) / 1e9
      Proc.log(f"$name%-28s $wall%.3f s")
      after(name)
      res match {
        case Right((rows, broken)) =>
          out.check(rows == pinned(name),
            s"$name returned $rows rows, pinned ${pinned(name)}")
          broken.foreach(b => out.check(ok = false, b))
          QueryRun(name, wall, cpu, rows, None)
        case Left(e) => missingCapture(e) match {
          case Some(path) =>
            System.err.println(s"[perfbench] excluded $name: needs $path")
            QueryRun(name, wall, cpu, 0L, Some(path))
          case None =>
            out.check(ok = false, s"$name failed: $e")
            QueryRun(name, wall, cpu, 0L, None)
        }
      }
    }
  }

  /** Session, table touch and every warm-up step on its own: a step that
    * fails does not stop the rest. */
  def setup(a: Main.Args): SparkSession = {
    val s = Session.start(Cores, a.work)
    graft.IndexDir.base = s"${a.work}/index"
    Tables.foreach(t => graft.Tables.load(s, a.data, t).count())
    graft.Tables.events(s, a.data).count()
    graft.perfbench.Warmups.steps(s, a.data).foreach { case (n, step) =>
      try step() catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $n skipped: " +
          missingCapture(e).map(p => s"needs $p").getOrElse(e.toString))
      }
    }
    s
  }

  /** The operators layer of a traced run: one set-up, then the sample's
    * cold pass traced, then an untraced and a traced pass over the
    * now-warm session, which differ only in tracing. */
  def traced(a: Main.Args, out: Outcome, t: Trace): Unit = {
    val order = new scala.util.Random(a.seed).shuffle(Pinned.map(_._1))
    val t0 = System.nanoTime()
    val s = setup(a)
    out.named("sweep_setup_s") = ((System.nanoTime() - t0) / 1e9, "s")
    try traced(s, a, order, out, t) finally Session.stop(s)
  }

  private def traced(s: SparkSession, a: Main.Args, order: Seq[String],
      out: Outcome, t: Trace): Unit = {
    val L = out.layers
    val planningNs = new java.util.concurrent.atomic.AtomicLong
    val planning = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        planningNs.addAndGet(qe.tracker.phases.values
          .map(_.durationMs).sum * 1000000L)
      override def onFailure(f: String, qe: QueryExecution, e: Exception)
          : Unit = ()
    }
    Counters.attach(s)
    s.listenerManager.register(planning)
    val sc = s.sparkContext
    val seenRdds = mutable.Set.empty[Int] ++ sc.getPersistentRDDs.keySet
    var builds = 0
    var storagePeak = 0L
    def after(q: String): Unit = {
      val ids = sc.getPersistentRDDs.keySet
      builds += ids.count(id => !seenRdds.contains(id))
      seenRdds ++= ids
      storagePeak = math.max(storagePeak,
        sc.getRDDStorageInfo.map(_.memSize).sum)
    }
    val runs = t.span("sweep")(pass(s, a.data, order, out, t, after))
    val sweep = t.find("sweep").get
    val timed = runs.filter(_.excluded.isEmpty)
    out.named("sweep_wall_s") = (sweep.seconds, "s")
    out.named("sweep_query_s_p50") = (Stats.median(timed.map(_.wallS)), "s")
    out.named("sweep_query_s_p90") =
      (Stats.percentile(timed.map(_.wallS), 90), "s")
    out.named("sweep_excluded") =
      (runs.count(_.excluded.nonEmpty).toDouble, "count")
    val c = sweep.counters
    Layers.Families.foreach { f =>
      val rs = runs.filter(r => family(r.name) == f && r.excluded.isEmpty)
      L(s"operators.$f.wall_s") = rs.map(_.wallS).sum
      L(s"operators.$f.cpu_s") = rs.map(_.cpuS).sum
    }
    L("sweep.planning_s") = planningNs.get / 1e9
    L("sweep.job_s") = c("job_ns") / 1e9
    L("sweep.unattributed_s") =
      sweep.seconds - L("sweep.planning_s") - L("sweep.job_s")
    L("sweep.stages") = c("stages").toDouble
    L("sweep.tasks") = c("tasks").toDouble
    L("sweep.shuffle_write_bytes") = c("shuffle_write_bytes").toDouble
    L("sweep.spill_bytes") = c("spill_bytes").toDouble
    L("sweep.gc_s") = c("gc_ms") / 1e3
    L("sweep.cache_builds") = builds.toDouble
    L("sweep.storage_mem_bytes_peak") = storagePeak.toDouble

    s.listenerManager.unregister(planning)
    Counters.detach(s)
    val off = new Trace("untraced", false)
    val t0 = System.nanoTime()
    pass(s, a.data, order, out, off)
    val warmUntraced = (System.nanoTime() - t0) / 1e9
    Counters.attach(s)
    s.listenerManager.register(planning)
    t.span("sweep.warm")(pass(s, a.data, order, out, t))
    L("trace.overhead.sweep_wall_s") =
      t.find("sweep.warm").get.seconds - warmUntraced
  }
}
