package perfbench

/** One benchmark workload: a set-up, then a closed loop of checked ops. */
trait Workload {
  /** Prepare for the timed ops; called once, and timed into `setup_s`. */
  def setup(): Unit
  /** Run op `i` inside [[Trace.op]]; false when its output is wrong. */
  def runOp(i: Int): Boolean
  /** Length of the op schedule's cycle: latency percentiles are taken over
    * complete cycles, so every run weighs each kind of op the same. */
  def cycle: Int
  /** Counts that must repeat exactly across runs of one seed are taken
    * over this many leading ops; the loop runs at least this many, so
    * every run completes them. */
  def countedOps: Int
  /** A check of the program's state after the last timed op, outside
    * any op's time; it counts as one more attempted op. */
  def endCheck(): Option[Boolean] = None
  /** Per-layer metrics only this workload can measure. */
  def layerMetrics(): Map[String, Double]
  def close(): Unit
}
