package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Unit pin for the byte-based broadcast gate (r12 verdict #7): the
  * decision function's constants are derived from schema width and the
  * 64 MB budget, and stay where the rank/link-predict/quantile gates
  * expect them. Also pins [[graft.core.Broadcasts.pin]], the primitive
  * that sizes those gates off the pin's own jobs. */
class BroadcastGateSpec extends SparkSuite {
  import graft.core.Broadcasts

  private val twoLongs =
    new StructType().add("k", LongType).add("v", LongType)

  test("row width model: per-row + per-field overhead over defaultSize") {
    // (long, long): 16 row overhead + 2 * (8 data + 8 field overhead)
    assert(Broadcasts.estRowBytes(twoLongs) === 48L)
  }

  test("row gate: 64 MB budget over a (long, long) frame is ~1.4M rows") {
    val gate = Broadcasts.rowGate(twoLongs)
    assert(gate === (64L << 20) / 48L)
    assert(gate > 1000000L && gate < 2000000L)
    assert(Broadcasts.fits(1000000L, twoLongs))
    assert(!Broadcasts.fits(2000000L, twoLongs))
  }

  test("gate binds BELOW the legacy 5M row threshold for node frames") {
    // the point of verdict #7: 5M (long, long) rows would be ~240 MB
    // built — the byte budget must refuse that long before 5M
    assert(Broadcasts.rowGate(twoLongs) < 5000000L)
  }

  /** A shuffled (k, v) frame with `n` input rows, fresh per call. */
  private def grouped(n: Long) =
    spark.range(0L, n).select((col("id") % 37).as("k"), col("id").as("v"))
      .groupBy(col("k")).agg(sum(col("v")).as("v"))

  test("pin: observed rows equal count() on a non-empty and an empty frame") {
    for (n <- Seq(1000L, 0L)) {
      val p = Broadcasts.pin(grouped(n), coalesce(sum(col("v")), lit(-1L)))
      assert(p.rows === grouped(n).count())
      assert(p.rows === p.df.count())
      assert(p.extras.getLong(0) ===
        (if (n == 0L) -1L else (0L until n).sum))
      assert(p.fits() === Broadcasts.fits(p.rows, p.df.schema))
    }
    // a filter over an already-pinned frame (no shuffle of its own)
    val base = Broadcasts.pin(grouped(1000L))
    assert(Broadcasts.pin(base.df.filter(col("k") < 5)).rows === 5L)
  }

  test("pin: runs no job beyond the checkpoint's own") {
    val plain = JobCount(spark.sparkContext) {
      grouped(1000L).localCheckpoint(): Unit
    }
    val pinned = JobCount(spark.sparkContext) {
      Broadcasts.pin(grouped(1000L), max(col("v"))): Unit
    }
    assert(plain > 0 && pinned === plain)
  }

  test("pin: an observation the checkpoint did not fill throws, runs no job") {
    // a lazy checkpoint runs nothing, so the observed aggregate would
    // read as the empty-input value; the pin must refuse it rather than
    // wait for it or count the frame itself
    val jobs = JobCount(spark.sparkContext) {
      intercept[IllegalStateException] {
        Broadcasts.pinWith(spark.range(0L, 100L).toDF("k"), Nil, eager = false)
      }: Unit
    }
    assert(jobs === 0)
  }
}
