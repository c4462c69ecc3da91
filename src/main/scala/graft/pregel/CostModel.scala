package graft.pregel

/** Exchange style for one superstep — the Spark translation of the
 * reference's PUSH vs b-PULL choice (SIGMOD'16 hybrid engine). */
sealed trait Style { def tag: String }
case object Push extends Style { val tag = "push" } // shuffle scatter + groupBy(dst) combine
case object Pull extends Style { val tag = "pull" } // broadcast-hash gather of respond values
/** Non-broadcast b-PULL: the respond relation shuffles once and joins the
 * dst-keyed in-edge fragment relation (pruned to responding source
 * blocks) — the gather path for respond sets too large to broadcast,
 * mirroring the reference's block-wise fragment scan
 * (GraphDataServerDisk.getMsg:857-944). Without it the hybrid engine
 * degenerates to always-Push the moment the respond relation exceeds the
 * broadcast cap — i.e. on almost every superstep at real scale. */
case object PullShuffle extends Style { val tag = "pull_shuffle" }

sealed trait ExchangeMode
case object ForcePush extends ExchangeMode
case object ForcePull extends ExchangeMode
case object ForcePullShuffle extends ExchangeMode
case object Hybrid extends ExchangeMode

/**
 * Per-superstep exchange chooser, mirroring the reference's master-side
 * cost model and switching discipline
 * (/root/reference/src/java/org/apache/hama/bsp/JobInProgress.java:885-998):
 *  - Q >= 0 -> PULL, Q < 0 -> PUSH;
 *  - dead-band |Q| <= 2.0 (MB here) -> keep current style;
 *  - after a switch the style is locked for w=2 supersteps;
 *  - switching is only considered after superstep 2 and only while the
 *    respond count is decreasing (JobInProgress.java:947-966).
 *
 * Spark cost translation, following the reference's volume model (push
 * pays every message byte twice — buffer write + read, here shuffle write
 * + fetch — while pull re-reads edge fragments of responding blocks and
 * moves the respond values once):
 *   PUSH         ~ 2 * combinedMsgBytes
 *   PULL (bcast) ~ respondBytes * numExecutors (4), respondBytes <= cap
 *   PULL (shuffle gather) ~ respondBytes + respondBlockEdges * edgeBytes
 * The shuffle-gather variant needs the per-block edge stats (L5); when the
 * caller can't supply them (respondBlockEdges == Long.MaxValue) an
 * above-cap respond set falls back to PUSH as in rounds 2-3. The Pull /
 * PullShuffle split is mechanical (the broadcast cap), not a style switch:
 * the model tracks the pull FAMILY and materializes the variant by cap,
 * so cap crossings don't trip the switch lock.
 */
final class CostModel(mode: ExchangeMode, broadcastCapBytes: Long) {
  // dead-band and switch lock are hard-coded in the reference too
  // (JobInProgress.java:932-998); the executor count is a fixed cluster-size
  // guess until the model is calibrated against measured exchange costs
  private val numExecutors = 4
  private val deadBandMb = 2.0
  private val switchLock = 2

  private var current: Style = Pull
  private var first = true
  private var lockedUntil: Int = 0
  private var prevRespond: Long = Long.MaxValue
  var lastQ: Double = 0.0

  /** Estimated push-minus-pull cost of the imminent exchange, in MB
   * (q >= 0 -> pull cheaper). */
  private def qEstimate(respondBytes: Long, estMsgs: Long, combineRatio: Double,
                        capped: Boolean, fragEdges: Long): Double = {
    val pullCost =
      if (!capped) respondBytes.toDouble * numExecutors
      else respondBytes.toDouble + fragEdges.toDouble * 8.0
    val pushCost = 2.0 * estMsgs * 16.0 * combineRatio
    (pushCost - pullCost) / (1 << 20)
  }

  private def isPullFamily(s: Style): Boolean = s != Push

  /** @param estMsgs   sum of out-degrees over responding vertices
   *  @param rowBytes  estimated bytes per respond-relation row
   *  @param combineRatio measured combined/produced message ratio (<=1)
   *  @param respondBlockEdges edge count over responding source blocks
   *    (L5 stats); Long.MaxValue = unknown -> shuffle gather unavailable */
  def choose(superstep: Int, respondCount: Long, estMsgs: Long,
             rowBytes: Int, combineRatio: Double,
             respondBlockEdges: Long = Long.MaxValue): Style = {
    val respondBytes = respondCount * rowBytes
    val capped = respondBytes > broadcastCapBytes
    val fragKnown = respondBlockEdges != Long.MaxValue
    def pullVariant: Style = if (capped) PullShuffle else Pull
    mode match {
      case ForcePush => current = Push
      case ForcePull => current = Pull
      case ForcePullShuffle => current = PullShuffle
      case Hybrid =>
        val q = qEstimate(respondBytes, estMsgs, combineRatio, capped, respondBlockEdges)
        lastQ = q
        val decreasing = respondCount <= prevRespond
        val want =
          if (capped && !fragKnown) Push // hard cap, no fragment stats
          else if (first) { // initial style from cost (dead-band keeps the Pull default), no lock
            first = false
            if (math.abs(q) <= deadBandMb) pullVariant else if (q >= 0) pullVariant else Push
          }
          else if (superstep <= 2 || !decreasing || superstep < lockedUntil)
            (if (isPullFamily(current)) pullVariant else Push) // stay; variant tracks the cap
          else if (math.abs(q) <= deadBandMb) (if (isPullFamily(current)) pullVariant else Push)
          else if (q >= 0) pullVariant
          else Push
        if (isPullFamily(want) != isPullFamily(current) && !first)
          lockedUntil = superstep + switchLock
        current = want
        prevRespond = respondCount
    }
    current
  }
}
