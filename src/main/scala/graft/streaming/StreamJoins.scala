package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream joins (reference §2.4 streaming forms).
  *
  * Spark plans these as `StreamingSymmetricHashJoinExec`: one exchange per
  * side on the equi-key, per-side keyed state retaining rows until the
  * watermark + time-range bound proves no future match can arrive — the
  * same state/expiry shape the reference hand-codes with per-side
  * ValueStates and timers (`PayReceiptWithConnectApp.java:62-157`).
  */
object StreamJoins {

  /** Streaming interval equi-join — reference J1
    * (`gmall-order-pay/.../PayReceiptWithJoinApp.java:50-70`:
    * `orders.intervalJoin(receipts).between(-3s, +5s)` on txId).
    *
    * Both sides must be watermarked by the caller-named ts columns; the
    * range condition bounds state retention on both sides. Inner join:
    * pairs emit as soon as both rows have arrived.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftWatermark: (String, String),
      rightWatermark: (String, String),
      joinOn: org.apache.spark.sql.Column,
      lowerSec: Long,
      upperSec: Long): DataFrame = {
    val (lTs, lDelay) = leftWatermark
    val (rTs, rDelay) = rightWatermark
    left
      .withWatermark(lTs, lDelay)
      .join(
        right.withWatermark(rTs, rDelay),
        joinOn &&
          col(rTs) >= col(lTs) + expr(s"INTERVAL $lowerSec seconds") &&
          col(rTs) <= col(lTs) + expr(s"INTERVAL $upperSec seconds"),
        "inner")
  }
}
