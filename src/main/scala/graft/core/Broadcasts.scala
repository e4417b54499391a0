package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** Byte-based broadcast gating (r12 verdict #7).
  *
  * The rank/link-predict family gates per-round broadcasts on a COUNTED
  * row threshold (5M rows). A row count is the wrong unit for what the
  * gate protects — driver and executor memory holding the built hash
  * relation — because 5M rows of (long, long) is ~160 MB framed while
  * 5M rows of a wide struct is gigabytes. This derives the row gate
  * from a byte budget and the frame's schema, so the decision scales
  * with what is actually shipped.
  *
  * The width model is deliberately simple and CONSERVATIVE for the
  * fixed-width frames the gates guard (all-long node/degree/rank
  * frames): Catalyst's `DataType.defaultSize` per column plus
  * [[perFieldOverheadBytes]] per column for UnsafeRow null bits /
  * offsets / object headers in the built relation, plus
  * [[perRowOverheadBytes]] per row. Variable-width columns use
  * defaultSize (20 B for strings) — callers broadcasting genuinely
  * fat variable-width payloads should keep their own contracts.
  *
  * [[pin]] is the one way the operators materialize a frame whose size
  * they need: the eager `localCheckpoint` that pins the blocks also
  * counts them, so sizing a gate or a loop exit costs no job of its own.
  */
object Broadcasts {

  val perRowOverheadBytes: Long = 16L
  val perFieldOverheadBytes: Long = 8L

  /** Default budget for one broadcast relation: comfortably inside
    * executor/driver memory at default cluster sizings (the guide's
    * "a few hundred MB is usually fine; multiple GB is asking for
    * driver OOMs" — one-eighth of the 512 MB danger zone), far below
    * Spark's 8 GB hard cap. */
  val defaultBudgetBytes: Long = 64L << 20

  /** Estimated in-memory bytes per row of `schema` in a built hash
    * relation. */
  def estRowBytes(schema: StructType): Long =
    perRowOverheadBytes +
      schema.fields.map(f =>
        f.dataType.defaultSize.toLong + perFieldOverheadBytes).sum

  /** The row-count gate equivalent to `budgetBytes` for `schema`:
    * broadcast while rows * estRowBytes <= budget. */
  def rowGate(schema: StructType, budgetBytes: Long = defaultBudgetBytes): Long =
    budgetBytes / estRowBytes(schema)

  /** True when `rows` rows of `schema` fit the byte budget. */
  def fits(rows: Long, schema: StructType,
      budgetBytes: Long = defaultBudgetBytes): Boolean =
    rows <= rowGate(schema, budgetBytes)

  /** A frame pinned by [[pin]]: the checkpointed frame, its row count,
    * and the caller's extra aggregates, in the order they were passed. */
  final case class Pinned(df: DataFrame, rows: Long, extras: Row) {
    /** True when this frame's rows, shipped as `schema` (default: the
      * pinned frame's own), fit the byte budget. */
    def fits(schema: StructType = df.schema): Boolean =
      Broadcasts.fits(rows, schema)
  }

  private val pinIds = new AtomicLong

  /** Pin `df` with an eager `localCheckpoint` and read its row count
    * plus the aggregate `extras` off the checkpoint's own jobs — an
    * `observe` on the pinned plan, so no `count()` job follows the pin.
    *
    * The metrics are read from the checkpoint's query execution, whose
    * accumulators are merged before its jobs return. (Spark's
    * `Observation` handle is completed later, on the asynchronous
    * listener bus, so reading it here would race or block.) A pin whose
    * checkpoint did not materialize the observed plan throws rather
    * than report the empty-input aggregate. */
  def pin(df: DataFrame, extras: Column*): Pinned =
    pinWith(df, extras, eager = true)

  private[graft] def pinWith(df: DataFrame, extras: Seq[Column],
      eager: Boolean): Pinned = {
    val name = s"graft_pin_${pinIds.incrementAndGet()}"
    val observed = df.observe(name, count(lit(1)).as("rows"), extras: _*)
    val ck = observed.localCheckpoint(eager)
    val materialized = ck.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }
    val m = observed.queryExecution.observedMetrics.get(name)
      .filter(_ => materialized)
      .getOrElse(throw new IllegalStateException(
        s"pin: observation $name was not filled by the checkpoint"))
    Pinned(ck, m.getLong(0), Row.fromSeq(m.toSeq.tail))
  }
}
