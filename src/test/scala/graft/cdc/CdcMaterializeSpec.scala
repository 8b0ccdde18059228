package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[CdcMaterialize.latestState]] — the per-key latest-image reduction,
  * rewritten (optimization round 14, guide §2.3) from a 4-key
  * `row_number` window to a single partial-aggregating `min_by` argmin.
  * This spec pins every leg of the original
  * `(lsn DESC NULLS LAST, op ASC, ts DESC, fp ASC)` tie order against
  * the fold, plus a plan witness that no Window node remains.
  */
class CdcMaterializeSpec extends SparkSpec {

  private val env =
    """{"before":%s,"after":%s,"source":{"version":"1","connector":"postgresql","name":"dbserver1","ts_ms":1,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":null,"lsn":%s},"op":"%s","ts_ms":%d}"""

  private def pay(id: Int, v: String) =
    s"""{"id":$id,"name":"$v","email":"$v@x.com","created_at":1}"""

  private def parsed(lines: Seq[String]) = {
    import spark.implicits._
    CdcEnvelope.parse(lines.toDF("value"))
  }

  test("latestState: supersede / delete-wins / null-lsn snapshot loses " +
      "to live lsn / re-snapshot tie — and the plan is a map-side " +
      "min_by argmin, not a window sort") {
    val state = CdcMaterialize.latestState(parsed(Seq(
      // id 1: plain supersede — max lsn wins
      env.format("null", pay(1, "A"), "11", "c", 1),
      env.format("null", pay(1, "B"), "21", "u", 1),
      // id 2: delete at the max lsn removes the key
      env.format("null", pay(2, "C"), "12", "c", 1),
      env.format(pay(2, "C"), "null", "22", "d", 1),
      // id 3: live lsn beats the null-lsn snapshot image (DESC NULLS LAST)
      env.format("null", pay(3, "snap"), "null", "r", 1),
      env.format("null", pay(3, "live"), "5", "u", 1),
      // id 4: RE-snapshot — two identical null-lsn 'r' images tie on the
      // whole order (same fingerprint); either pick is the same row
      env.format("null", pay(4, "S"), "null", "r", 1),
      env.format("null", pay(4, "S"), "null", "r", 1))))
    val rows = state.orderBy(col("id")).collect().map(r =>
      r.getInt(0) -> ((r.getString(1),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(rows == Map(
      1 -> (("B", Some(21L))),
      3 -> (("live", Some(5L))),
      4 -> (("S", None))))
    // plan witness: the reduction must be an aggregate (partial fold
    // before the exchange), with no window sort anywhere
    val plan = state.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("min_by") || plan.contains("MinBy"), plan)
  }

  test("latestState equal-lsn ties: op ASC decides first (a delete at " +
      "the same lsn as an update wins and drops the key), then ts DESC") {
    val state = CdcMaterialize.latestState(parsed(Seq(
      // id 5: 'd' vs 'u' at the SAME lsn — op ASC ranks 'd' first, so
      // the delete wins and the key drops out
      env.format("null", pay(5, "X"), "7", "u", 1),
      env.format(pay(5, "X"), "null", "7", "d", 1),
      // id 6: same lsn, same op — newer ts_ms wins (ts DESC)
      env.format("null", pay(6, "old"), "9", "u", 100),
      env.format("null", pay(6, "new"), "9", "u", 200))))
    val rows = state.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows == Map(6 -> "new"))
  }

  test("latestState full-tiebreak: equal (lsn, op, ts) falls through to " +
      "the payload fingerprint, ascending — deterministic either way " +
      "around") {
    val (a, b) = (env.format("null", pay(7, "aa"), "3", "u", 1),
      env.format("null", pay(7, "bb"), "3", "u", 1))
    // expected winner = the min md5(to_json(after)) of the two payloads,
    // computed through the same expressions the operator uses
    val fps = parsed(Seq(a, b))
      .select(col("envelope.after.name").as("n"),
        md5(to_json(col("envelope.after"))).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    val expect = fps.minBy(_._2)._1
    // both arrival orders land on the same winner
    Seq(Seq(a, b), Seq(b, a)).foreach { lines =>
      val got = CdcMaterialize.latestState(parsed(lines)).collect()
      assert(got.map(_.getString(1)).toSeq == Seq(expect))
    }
  }

  test("latestState: negative lsn/ts_ms rank DESC like any other value; " +
      "Long.MinValue fails loudly") {
    val state = CdcMaterialize.latestState(parsed(Seq(
      // id 1: lsn -5 beats -7 (DESC), whatever the op order says
      env.format("null", pay(1, "A"), "-7", "c", 1),
      env.format("null", pay(1, "B"), "-5", "u", 1),
      // id 2: equal lsn and op; ts_ms -1 beats -9 (DESC)
      env.format("null", pay(2, "C"), "3", "u", -9),
      env.format("null", pay(2, "D"), "3", "u", -1))))
    val names = state.orderBy(col("id")).collect().map(r => r.getInt(0) -> r.getString(1))
    assert(names.toSeq == Seq(1 -> "B", 2 -> "D"), names.toSeq)
    for (line <- Seq(
        env.format("null", pay(3, "E"), Long.MinValue.toString, "c", 1),
        env.format("null", pay(3, "E"), "1", "c", Long.MinValue))) {
      val e = intercept[Exception](
        CdcMaterialize.latestState(parsed(Seq(line))).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.toString)
    }
  }
}
