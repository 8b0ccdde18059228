package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Consumer-side materialization of a parsed envelope stream into current
  * table state — the operator every CDC consumer builds on top of the
  * reference's topics (SURVEY.md §2.5 "latest-state materialization, a
  * natural v2 feature").
  */
object CdcMaterialize {

  /** Reduce parsed envelopes (output of [[CdcEnvelope.parse]]) to the
    * current state of the table: per key, the max-`lsn` envelope wins and
    * a winning delete removes the row. Emits the `after` payload columns
    * plus `last_lsn`.
    *
    * One shuffle on the key — the minimum any engine needs for this
    * reduction — and (optimization guide §2.3: aggregate before you
    * shuffle) the reduction is a `min_by` ARGMIN aggregate, not a
    * `row_number` window: the per-key winner folds to one candidate per
    * map partition BEFORE the exchange, so the shuffle carries
    * O(distinct keys) rows and no per-partition sort ever runs. Delete
    * keys come from the `before` image (Debezium deletes carry no
    * `after`). `lsn` ties break on op code for determinism.
    *
    * The winner is the FIRST row under
    * `(lsn DESC NULLS LAST, op ASC, ts_ms DESC, fp ASC)` — fp being the
    * payload fingerprint tiebreak: two envelopes tying on (lsn, op),
    * e.g. a RE-snapshot's second op='r' image, both with null lsn, would
    * otherwise pick a partition-order-dependent winner. That mixed
    * ordering is expressed LOSSLESSLY as one argmin because both string
    * fields (`op`, `fp`) are ASC — a MIN aggregate preserves their order
    * and their NULLS FIRST semantics verbatim — and the numeric DESC
    * fields invert by negation, with an `isNull` guard reproducing each
    * one's NULLS LAST placement (struct comparison sorts a null field
    * first, i.e. it would WIN a min; `isNull` ranks it after every
    * non-null instead, exactly `desc`'s nulls-last). Full-ordering ties
    * carry an identical fingerprint, hence an identical payload, so
    * `min_by`'s keep-first-buffer tie behavior cannot surface
    * nondeterminism. Negation reverses the order of every `Long` except
    * `Long.MinValue`, so negative `lsn`/`ts_ms` values rank correctly;
    * the one condition is that neither is `Long.MinValue`, whose
    * negation throws under ANSI (Spark 4's default) instead of ranking
    * silently wrong. Semantics pinned in `CdcMaterializeSpec` (supersede
    * / delete-wins / null-lsn snapshot vs live lsn / re-snapshot tie),
    * with a plan witness that no Window node remains.
    */
  def latestState(parsed: DataFrame, keyField: String = "id"): DataFrame = {
    val keyed = parsed.select(
      coalesce(col(s"envelope.after.$keyField"),
        col(s"envelope.before.$keyField")).as("_key"),
      col("envelope.source.lsn").as("_lsn"),
      col("envelope.op").as("_op"),
      col("envelope.after").as("_after"),
      col("envelope.ts_ms").as("_ts"),
      md5(to_json(col("envelope.after"))).as("_fp"))
    val ordering = struct(
      col("_lsn").isNull, (-col("_lsn")).as("_nlsn"), // lsn DESC NULLS LAST
      col("_op"), // op ASC (NULLS FIRST, min's native null placement)
      col("_ts").isNull, (-col("_ts")).as("_nts"), // ts DESC NULLS LAST
      col("_fp")) // fp ASC
    keyed.groupBy(col("_key"))
      .agg(min_by(struct(col("_after"), col("_lsn"), col("_op")), ordering)
        .as("_top"))
      .filter(col("_top._op") =!= "d")
      .select(col("_top._after.*"), col("_top._lsn").as("last_lsn"))
  }
}
