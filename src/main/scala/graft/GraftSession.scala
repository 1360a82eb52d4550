package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built (the reference builds its
  * session once per entry point, DiffJob.java:60-71).
  *
  * [[builder]] carries the engine settings every session needs; the
  * spark-submit mains (`DiffJobMain`, `DiffApiServer`) and the test
  * session add only their app name and master. [[local]] is the session
  * of the local tools (Bench, Verify, Explain), so they all measure the
  * same engine.
  */
object GraftSession {

  /** Engine settings of every graft session. perfbench's `Main.session`
    * keeps a frozen copy of these four; keep the two identical.
    */
  val engine: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // legacy fixtures carried TIMESTAMP(NANOS), which the vectorized
    // reader rejects; read those as long — Tables.events normalizes
    // either encoding to a microsecond timestamp
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // let the diff join reuse the occurrence-window's (pk, ck) hash
    // partitioning — a subset of the join keys (pk, ck, __occ) — instead
    // of re-shuffling the full data on all three (saves one full-data
    // exchange per side on the hottest path)
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false")

  /** A session builder carrying [[engine]]. */
  def builder(): SparkSession.Builder = SparkSession.builder().config(engine)

  /** The local-tool session: `local[SPARK_GRAFT_CPUS]` (default 4). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    builder()
      .master(s"local[$cpus]")
      // default: one shuffle partition per core (right for the sf0.1
      // gate); SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for scale-shape
      // runs where partitions must be sized to the data, not the box
      // (the r13 100x audit spilled 83.5 GB under the sf0.1-tuned
      // default — the knob, not the plan)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.ui.enabled", "false")
      // shuffle/spill to tmpfs: on a virtio block device the many small
      // shuffle files turn into sys time (observed 80% idle / 16% sys)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      // speculation re-launches stragglers: shared VMs show intermittent
      // single-task stalls (one task at 50% cpu for minutes while the rest
      // park) — the same defense a real cluster needs for sick executors
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "1s")
      .config("spark.speculation.multiplier", "3")
      .config("spark.speculation.quantile", "0.9")
      .getOrCreate()
  }
}
