package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The session warm-ups `graft.Bench` runs before its sweep, one step
  * each, less the capture-backed PSI state: no workload reads the
  * reference capture. Several steps are `private[graft]`, so this one
  * object lives inside the engine's package; every timed path of the
  * benchmark goes through public API only. */
object Warmups {
  def steps(s: SparkSession, sf: String): Seq[(String, () => Any)] = Seq(
    "mpts_state" -> (() => graft.operators.TsQueries.warmMptsState(s)),
    "registry" -> (() => graft.operators.Settings.warmRegistry(s, sf)),
    "ivf_index" -> (() => graft.operators.Similarity.ivfIndexPath(s, sf)),
    "bm25_index" -> (() => graft.operators.TextOps.bm25IndexPath(s, sf)),
    "bucketing" -> (() => graft.operators.Bucketing.bucketedTables(s, sf)))
}
