package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t

/** Media queries over synthetic PNG, GIF and WAV payloads: inventory,
  * decode, features, resize, frame sampling and image kNN.
  */
private[graft] object MediaQueries {
  private final val family = "media"

  /** Synthetic media fixtures (real PNG/GIF/WAV payloads derived
    * deterministically from doc_id) materialized ONCE per (process, sf
    * dir) as parquet, so q43/q49/q50/q51/q55/q71 time the DECODE /
    * TRANSFORM operators, not fixture encoding (the r5 q71 bench
    * finding). Generation is deterministic, so the parquet round trip
    * is content-identical to inline synthesis — CORRECTNESS semantics
    * unchanged; this is also the honest production shape, where media
    * arrives as a stored binary column, not something the query
    * invents.
    */
  private def mediaTable(s: SparkSession, dir: String, kind: String)
      : org.apache.spark.sql.Dataset[MultimodalOps.MediaRecord] = {
    import s.implicits._
    val root = Memo.dir(s"graft-media-$kind-", dir) { d =>
      val docs = t(s, dir, "documents")
      val gen = kind match {
        case "png" => MultimodalOps.syntheticPngTable(docs)
        case "gif" => MultimodalOps.syntheticGifTable(docs)
        case "wav" => MultimodalOps.syntheticWavTable(docs)
      }
      gen.toDF().write.mode("overwrite").parquet(d)
    }
    s.read.parquet(root).as[MultimodalOps.MediaRecord]
  }

  /** DuckDB pixel-histogram CTEs over the deterministic PNG gradient
    * fixture (MultimodalOps.syntheticPngTable): re-derives every
    * per-channel count the real decode + featureExtract must recover —
    * 8 bins/channel, vector index = channel*8 + (value >> 5), pixel
    * rgb = (x*31 + y*17 + doc_id) % 0xFFFFFF at the q43 dimensions.
    */
  private lazy val imageHistCtes =
    """dims AS (
      |  SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) w,
      |         CAST(1 + (doc_id * 7) % 48 AS BIGINT) h
      |  FROM documents),
      |xs AS (SELECT doc_id, h, unnest(range(0, w)) x FROM dims),
      |px AS (SELECT doc_id, x, unnest(range(0, h)) y FROM xs),
      |pv AS (SELECT doc_id, (x * 31 + y * 17 + doc_id) % 16777215 rgb FROM px),
      |chv AS (
      |  SELECT doc_id, 0 c, (rgb >> 16) & 255 v FROM pv
      |  UNION ALL SELECT doc_id, 1, (rgb >> 8) & 255 FROM pv
      |  UNION ALL SELECT doc_id, 2, rgb & 255 FROM pv),
      |hist AS (
      |  SELECT doc_id, c * 8 + (v >> 5) bin, count(*) n
      |  FROM chv GROUP BY 1, 2),
      |allbins AS (SELECT doc_id, unnest(range(0, 24)) bin FROM documents),
      |fvrows AS (
      |  SELECT a.doc_id, a.bin, CAST(coalesce(h.n, 0) AS BIGINT) cnt
      |  FROM allbins a LEFT JOIN hist h ON a.doc_id = h.doc_id AND a.bin = h.bin)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // header-only media inventory (real imageio metadata parse, no
    // raster decode) — the routing pass ahead of q43's full decode
    QueryDef("q23_multimodal", family, (s, dir) =>
      MultimodalOps.mediaInventory(mediaTable(s, dir, "png")),
      // header sniff must recover the same dimensions the full decode
      // does — the oracle re-derives them from the fixture formulas
      """SELECT doc_id,
        |       CAST(1 + doc_id % 64 AS INT) AS width,
        |       CAST(1 + (doc_id * 7) % 48 AS INT) AS height,
        |       'png' AS format
        |FROM documents""".stripMargin),
    QueryDef("q43_image_decode", family, (s, dir) =>
      MultimodalOps.imageStats(mediaTable(s, dir, "png")),
      // Real-codec round trip: the oracle predicts the dimensions the
      // PNG decoder must recover from the generated payloads.
      """SELECT doc_id,
        |       CAST(1 + doc_id % 64 AS INT) AS width,
        |       CAST(1 + (doc_id * 7) % 48 AS INT) AS height,
        |       'png' AS format
        |FROM documents""".stripMargin),
    QueryDef("q49_image_features", family, (s, dir) =>
      MultimodalOps.featureExtract(mediaTable(s, dir, "png")).toDF()
        .select(col("doc_id"), posexplode(col("features")).as(Seq("bin", "f")))
        .select(col("doc_id"), col("bin").cast("int").as("bin"),
          col("f").cast("bigint").as("cnt")),
      // Real-decode feature gate: every histogram count is re-derived
      // from the deterministic gradient — a featureExtract that does not
      // decode actual pixels cannot match.
      s"""WITH $imageHistCtes
         |SELECT doc_id, CAST(bin AS INT) AS bin, cnt FROM fvrows""".stripMargin),
    QueryDef("q50_image_knn", family, (s, dir) =>
      SimilarityOps.bruteForceKnn(
        MultimodalOps.featureExtract(mediaTable(s, dir, "png")).toDF()
          .select(col("doc_id").as("vec_id"), col("features").as("embedding"))),
      // The decoded-raster embeddings run through the SAME exact-kNN
      // engine as q16; the oracle recomputes the whole pipeline
      // (pixels → histograms → cosine top-k) independently. Counts are
      // integers, so each double fold is exact and the two engines agree
      // bit-for-bit.
      s"""WITH $imageHistCtes,
         |f AS (SELECT doc_id, list(CAST(cnt AS DOUBLE) ORDER BY bin) v
         |      FROM fvrows GROUP BY doc_id),
         |q AS (SELECT doc_id AS query_id, v AS qv FROM f WHERE doc_id < 5),
         |scored AS (
         |  SELECT q.query_id, f.doc_id AS vec_id,
         |         ${duckCosine("f.v", "q.qv")} AS sim
         |  FROM f CROSS JOIN q WHERE f.doc_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY sim DESC, vec_id ASC) AS INT) AS rnk
         |      FROM scored)
         |SELECT query_id, rnk, vec_id, sim FROM r WHERE rnk <= 10""".stripMargin),
    QueryDef("q51_image_resize", family, (s, dir) =>
      MultimodalOps.resizeRoundTripFrom(mediaTable(s, dir, "png")),
      // Resize round trip: the oracle predicts the post-resize dims the
      // re-decode must recover (same double arithmetic both sides:
      // scale = min(1, 32/max(w,h)), floor of w*scale, floor of h*scale).
      """WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) w,
        |         CAST(1 + (doc_id * 7) % 48 AS BIGINT) h
        |  FROM documents),
        |s AS (SELECT doc_id, w, h,
        |             LEAST(1.0, 32.0 / GREATEST(w, h)) scale FROM dims)
        |SELECT doc_id,
        |       CAST(GREATEST(1, floor(w * scale)) AS INT) AS width,
        |       CAST(GREATEST(1, floor(h * scale)) AS INT) AS height,
        |       'png' AS format
        |FROM s""".stripMargin),
    QueryDef("q55_frame_sample", family, (s, dir) =>
      MultimodalOps.frameSampleImages(mediaTable(s, dir, "gif")),
      // Frame-sampling round trip: real multi-frame GIFs re-opened and
      // sampled; the oracle re-derives frame counts, sampled indices
      // (k·n/s spacing), and per-frame dims from the formulas alone.
      """WITH d AS (
        |  SELECT doc_id, CAST(2 + doc_id % 5 AS INT) n,
        |         CAST(1 + doc_id % 64 AS INT) w,
        |         CAST(1 + (doc_id * 7) % 48 AS INT) h
        |  FROM documents),
        |s AS (SELECT doc_id, n, w, h, LEAST(4, n) s FROM d),
        |k AS (SELECT doc_id, n, w, h, s, unnest(range(0, s)) k FROM s)
        |SELECT doc_id, CAST(k AS INT) AS sample_idx,
        |       CAST((k * n) // s AS INT) AS frame_idx,
        |       w AS width, h AS height, n AS n_frames
        |FROM k""".stripMargin),
    QueryDef("q71_audio_decode", family, (s, dir) =>
      MultimodalOps.audioStats(mediaTable(s, dir, "wav")),
      // Audio round trip: every recovered field re-derived from doc_id
      // and the integer waveform s_i = (i·k) mod 2003 - 1001 — a decoder
      // that does not parse RIFF PCM cannot reproduce peak/ssum.
      """WITH p AS (
        |  SELECT doc_id, 100 + doc_id % 400 AS n, 1 + doc_id % 7 AS k,
        |         8000 * (1 + doc_id % 3) AS rate
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p),
        |st AS (SELECT g.doc_id,
        |              max(abs((i * k) % 2003 - 1001)) AS peak,
        |              CAST(sum((i * k) % 2003 - 1001) AS BIGINT) AS ssum
        |       FROM g JOIN p USING (doc_id) GROUP BY g.doc_id)
        |SELECT p.doc_id, CAST(p.n AS INT) AS n_samples,
        |       CAST(p.rate AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
        |       CAST(st.peak AS INT) AS peak, st.ssum
        |FROM p JOIN st USING (doc_id)""".stripMargin),
  )
}
