package graft

import org.apache.spark.sql.DataFrame

/** Lineage cuts for iterative operators (label propagation, BPE merge
  * rounds, PQ training, interface-embedding closure): each round's plan
  * references the prior round's twice, so uncut lineage doubles per round
  * and Catalyst chokes long before the data does.
  *
  * By default the cut is `localCheckpoint` — blocks held on executors
  * without replication. That is the right local-mode/dev trade (no
  * distributed filesystem needed, no extra write), but on a real cluster
  * one lost executor makes every block of the cut unrecoverable and the
  * whole iterative query dies. Deployments set [[DirConf]]
  * (`spark.graft.checkpointDir`) to a reliable store (HDFS/object-store
  * path) and every cut becomes a fault-tolerant `checkpoint()` there —
  * the same switch a 1000-executor label propagation over a 100 TB pair
  * graph needs, where a multi-hour query restart costs more than the
  * checkpoint writes. Read per cut, so a conf change applies from the
  * next round on.
  */
object Checkpoints {
  /** When set (runtime-settable), lineage cuts write reliable checkpoints
    * under this directory instead of executor-local blocks. */
  val DirConf = "spark.graft.checkpointDir"

  /** Install the dir at most once per (SparkContext, conf value) —
    * setCheckpointDir on every cut would re-mkdir a fresh UUID subdir per
    * call, but a JVM-global memo would skip the install after a context
    * restart (or for a second concurrent context) and the next
    * `checkpoint()` would throw "Checkpoint directory has not been set".
    * The context's own getCheckpointDir is the authoritative state: it
    * dies with the context, so no stale-memo hazard and no weak-map
    * bookkeeping. The installed value is a fs-QUALIFIED UUID SUBDIR of
    * the conf dir (file:/… for a local path), so the check qualifies the
    * conf dir through the same FileSystem and compares it against the
    * PARENT of the installed subdir — raw substring containment would
    * false-positive when the conf path appears as an inner segment of
    * another dir's qualified path (e.g. '/tmp/ck' inside
    * '/data/tmp/ck/sub') and skip the install. */
  private def ensureDir(df: DataFrame, dir: String): Unit = synchronized {
    val sc = df.sparkSession.sparkContext
    val p = new org.apache.hadoop.fs.Path(dir)
    val want = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p).toString
    val installedParent =
      sc.getCheckpointDir.map(d => new org.apache.hadoop.fs.Path(d).getParent.toString)
    if (!installedParent.contains(want)) sc.setCheckpointDir(dir)
  }

  /** Cut `df`'s lineage, eagerly: reliable `checkpoint()` when
    * [[DirConf]] is set, `localCheckpoint()` otherwise. */
  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        ensureDir(df, dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }

  /** `.lineageCut` chains where `.localCheckpoint()` used to. */
  implicit final class LineageCut(private val df: DataFrame) extends AnyVal {
    def lineageCut: DataFrame = cut(df)
  }
}
