package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.Ops

/** Driver-gate coverage for the multimodal path: synthetic media blobs from
  * `documents`, batched mapPartitions decode (stub codec = exact byte
  * histogram), features exploded to (media_id, bin, cnt) rows that DuckDB
  * recomputes from the source text (ASCII corpus ⇒ char ordinal == byte).
  */
object Media extends graft.GateFamily {

  def qMediaFeatures(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
    Multimodal.extractFeatures(media)
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")).as(Seq("bin", "cnt")))
      .orderBy(col("media_id"), col("bin"))
  }

  /** Frame size for the sampling operator (bytes) — the canonical
    * constant lives with the operator so gate and operator cannot drift.
    */
  val FrameBytes: Int = graft.multimodal.Multimodal.FrameBytes

  /** Un-sorted frame fingerprints — shared by the frames gate and the
    * frame-overlap dedup so the slicing cannot drift between them.
    */
  private def frameHashes(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, d)).toDF()
    val n = length(col("content"))
    val frames = when(n >= 1,
      transform(
        sequence(lit(0), floor((n + FrameBytes - 1) / FrameBytes).cast("int") - 1),
        i => col("content").substr(i * FrameBytes + 1, lit(FrameBytes))))
      .otherwise(typedLit(Seq.empty[Array[Byte]]))
    media
      .select(col("media_id"), col("kind"),
        posexplode(frames).as(Seq("frame_idx", "frame")))
      .select(col("media_id"), col("kind"), col("frame_idx"),
        length(col("frame")).as("frame_len"),
        md5(col("frame")).as("frame_md5"))
  }

  /** Frame sampling: every media blob sliced into fixed 64-byte frames
    * with per-frame checksums — the video-frame-extraction stand-in, and
    * the chunking pass a multimodal pipeline runs before per-frame
    * featurization. Byte slicing needs no codec, so unlike the decode
    * stub this is REAL end-to-end: pure native expressions (binary
    * substr + md5), a narrow scan exploding to O(bytes/64) rows, zero
    * shuffles before the presentation sort.
    */
  def qMediaFrames(s: SparkSession, d: String): DataFrame =
    frameHashes(s, d).orderBy(col("media_id"), col("frame_idx"))

  /** Ubiquitous-frame cap for [[qMediaDedup]]: a fingerprint held by more
    * media than this is dropped from pair generation (the black-frame /
    * intro-card problem — such frames carry no identity signal and would
    * make the inverted-index join quadratic in their holders).
    */
  val MediaDfCap = 32L

  /** Minimum shared-frame overlap ratio (×10000, against the SMALLER
    * frame set) for a near-duplicate pair.
    */
  val MediaOverlapX10000 = 5000L

  /** Media near-dup by frame-fingerprint overlap — how video/image dedup
    * actually runs at corpus scale: no pixel comparison, just an
    * inverted index on per-frame content fingerprints and a pair fold
    * over shared hashes (two media are near-dups when ≥50% of the
    * smaller one's frames appear in the other). The codec never runs —
    * fingerprints come from raw frame bytes, so the operator is REAL
    * end-to-end, not a stub.
    *
    * Scale shape: the index is an equi-join on the frame hash with a
    * document-frequency cap ([[MediaDfCap]]) bounding every join
    * bucket — O(n·frames) shuffle keys, never all-pairs; the pair fold
    * and size join run over already-thresholded frames. Same skeleton
    * as the substring-dedup family, which is the point: media dedup IS
    * text dedup over a different fingerprint.
    */
  def qMediaDedup(s: SparkSession, d: String): DataFrame = {
    val fsets = frameHashes(s, d)
      .select(col("media_id"), col("frame_md5")).distinct()
      // feeds sizes, the df table, and the candidate join
      .stage()
    val sizes = fsets.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    val dfTab = fsets.groupBy(col("frame_md5"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= MediaDfCap)
      .select(col("frame_md5"))
    val cand = fsets.join(dfTab, "frame_md5")
    val pairs = cand.as("a")
      .join(cand.as("b"), col("a.frame_md5") === col("b.frame_md5") &&
        col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("media_id").as("a_id"), col("n").as("n_frames_a")), "a_id")
      .join(sizes.select(col("media_id").as("b_id"), col("n").as("n_frames_b")), "b_id")
      .withColumn("overlap_x10000",
        expr("shared * 10000 div least(n_frames_a, n_frames_b)"))
      .filter(col("overlap_x10000") >= MediaOverlapX10000)
      .select(col("a_id"), col("b_id"), col("shared"),
        col("n_frames_a"), col("n_frames_b"), col("overlap_x10000"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val oracle: Map[String, String] = Map(
    "q_media_frames" ->
      s"""WITH d0 AS (SELECT doc_id,
         |    regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS text
         |  FROM documents)
         |SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(i AS INT) AS frame_idx,
         |  CAST(length(substr(text, CAST(i*$FrameBytes+1 AS INT), $FrameBytes))
         |    AS INT) AS frame_len,
         |  md5(substr(text, CAST(i*$FrameBytes+1 AS INT), $FrameBytes))
         |    AS frame_md5
         |FROM d0 CROSS JOIN
         |  unnest(range(0, (length(text)+${FrameBytes - 1})//$FrameBytes)) u(i)
         |ORDER BY media_id, frame_idx""".stripMargin,

    // same ASCII-fold + 64-byte slicing as the frames oracle; DISTINCT
    // per (media, hash) for set-overlap semantics, df cap mirrored
    "q_media_dedup" ->
      s"""WITH d0 AS (SELECT doc_id,
         |    regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS text
         |  FROM documents),
         |fr AS (SELECT DISTINCT doc_id AS media_id,
         |    md5(substr(text, CAST(i*$FrameBytes+1 AS INT), $FrameBytes)) AS h
         |  FROM d0 CROSS JOIN
         |    unnest(range(0, (length(text)+${FrameBytes - 1})//$FrameBytes)) u(i)),
         |sz AS (SELECT media_id, count(*) AS n FROM fr GROUP BY 1),
         |dfc AS (SELECT h FROM fr GROUP BY h
         |        HAVING count(*) BETWEEN 2 AND $MediaDfCap),
         |c AS (SELECT fr.media_id, fr.h FROM fr JOIN dfc USING (h)),
         |p AS (SELECT a.media_id AS a_id, b.media_id AS b_id,
         |        count(*) AS shared
         |      FROM c a JOIN c b ON a.h = b.h AND a.media_id < b.media_id
         |      GROUP BY 1, 2)
         |SELECT a_id, b_id, CAST(shared AS BIGINT) AS shared,
         |  CAST(sa.n AS BIGINT) AS n_frames_a,
         |  CAST(sb.n AS BIGINT) AS n_frames_b,
         |  CAST(shared * 10000 // least(sa.n, sb.n) AS BIGINT)
         |    AS overlap_x10000
         |FROM p JOIN sz sa ON sa.media_id = p.a_id
         |JOIN sz sb ON sb.media_id = p.b_id
         |WHERE shared * 10000 // least(sa.n, sb.n) >= $MediaOverlapX10000
         |ORDER BY a_id, b_id""".stripMargin,

    "q_media_features" ->
      """WITH d0 AS (SELECT doc_id,
        |    regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS text
        |  FROM documents),
        |bins AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(text)+1),
        |      i -> ord(substr(text, i, 1)) % 16)) AS bin
        |  FROM d0),
        |counts AS (SELECT doc_id, bin, count(*) AS cnt FROM bins GROUP BY 1, 2)
        |SELECT d.doc_id AS media_id,
        |  CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(length(d.text) AS INT) AS n_bytes,
        |  CAST(b.range AS INT) AS bin,
        |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM documents d
        |CROSS JOIN range(0, 16) b
        |LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = b.range
        |ORDER BY media_id, bin""".stripMargin
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_features" -> (qMediaFeatures _),
    "q_media_frames" -> (qMediaFrames _),
    "q_media_dedup" -> (qMediaDedup _)
  )
}
