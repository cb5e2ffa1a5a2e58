package graft

/** Engine configuration read from system properties (and, for the scan
  * fill, the environment) at call time, so a test or a launcher can set
  * it per run without rebuilding the session.
  */
object Tuning {

  private def prop(name: String): Option[String] =
    Option(System.getProperty(name))

  /** Scan-parallelism fill target for compute-dense tables (guide §2.5
    * unsplittable-input rule); None disables. `graft.scanFill` (or
    * `SPARK_GRAFT_SCAN_FILL`): `off`, or a task count. Default: the
    * session's defaultParallelism (resolved at the call site).
    */
  def scanFill(defaultParallelism: Int): Option[Int] =
    prop("graft.scanFill").orElse(sys.env.get("SPARK_GRAFT_SCAN_FILL")) match {
      case Some("off") => None
      case Some(n) => Some(n.toInt)
      case None => Some(defaultParallelism)
    }

  /** Size gate (bytes) for the adjacency arm's full-graph broadcast in
    * [[graft.functions.Graph.triangleCountDelta]], `graft.triAdjMaxBytes`.
    * The gate is two-level: a plan-stats pre-gate at 64x this bound
    * skips even BUILDING the adjacency when the edge table is obviously
    * corpus-sized, and the precise gate reads the checkpointed
    * adjacency's ACTUAL storage bytes. Past either, T1 falls back to the
    * wedge join (bit-identical, GraphOpsSpec-pinned). Default 256 MB —
    * the guide §3.1 "a few hundred MB is usually fine; multiple GB is
    * asking for OOMs" rule, and the arm broadcasts two projections of
    * the table.
    */
  def triAdjMaxBytes: Long =
    prop("graft.triAdjMaxBytes").map(_.toLong).getOrElse(256L << 20)
}
