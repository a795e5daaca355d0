package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.operators.Multimodal

/** Multimodal and container-decoding gates: image metadata, ISO-BMFF
  * video boxes, frame extraction through the MediaDecoder boundary, and
  * WET/WARC record framing, each with its DuckDB oracle. */
object MultimodalGates {

  val gates: Seq[Gate] = Seq(
    // multimodal plumbing: opaque binary media column -> typed metadata
    // via batched per-partition decode (STUB codec, real Spark shape)
    Gate("p12_multimodal_meta",
      """WITH m AS (SELECT doc_id, text, md5(text) AS h FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(64 + ('0x'||substr(h,1,2))::BIGINT
        |    + 256 * (('0x'||substr(h,3,2))::BIGINT % 4) AS BIGINT) AS width,
        |  CAST(64 + ('0x'||substr(h,5,2))::BIGINT
        |    + 256 * (('0x'||substr(h,7,2))::BIGINT % 4) AS BIGINT) AS height,
        |  3 AS channels,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substr(h, 1, 8) AS fp_prefix
        |FROM m ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = Multimodal.asMedia(t(s, d, "documents"),
        "doc_id", "text", "image/fake")
      Multimodal.imageMeta(media).toDF()
        .select("media_id", "width", "height", "channels", "n_bytes",
          "fp_prefix")
        .orderBy("media_id")
    },

    // REAL video container metadata, oracle-gated: each document row
    // becomes a structurally valid ISO-BMFF blob whose header facts
    // (brand, timescale, duration, track count, display dims) are pure
    // functions of doc_id (Multimodal.syntheticMp4), so the DuckDB
    // oracle predicts what the box walk MUST extract — the parser under
    // test is the production decodeVideoMeta, not a fake codec. Every
    // 97th row is a wrong-magic blob exercising the corrupt-crawl-blob
    // error path (error row, not job failure). Odd rows take the
    // 64-bit mvhd v1 layout + a second zero-dimension (audio) track.
    // oracle: predicts the box walk's output from the same doc_id formulas the
    // blob generator used (timescale pinned to 1 so duration is exact integer
    // seconds; 176/288 are the fixed v0/v1 skeleton sizes)
    Gate("p47_video_meta",
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 97 = 0 THEN '' ELSE 'isom' END AS brand,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN -1 ELSE 1 END AS BIGINT)
        |    AS timescale,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN -1
        |    ELSE 60 + doc_id % 86400 END AS BIGINT) AS duration_s,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN -1
        |    WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS INTEGER)
        |    AS track_count,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN -1
        |    ELSE 320 + 16 * (doc_id % 8) END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN -1
        |    ELSE 180 + 9 * (doc_id % 8) END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 97 = 0
        |      THEN 8 + octet_length(encode(text))
        |    WHEN doc_id % 2 = 1 THEN 288 ELSE 176 END AS BIGINT)
        |    AS n_bytes,
        |  (doc_id % 97 = 0) AS is_err
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val media = t(s, d, "documents").select("doc_id", "text")
        .as[(Long, String)].map { case (id, text) =>
          if (id % 97 == 0)
            Multimodal.MediaRow(id, "video/mp4",
              Array[Byte](0, 0, 0, 8, 'F', 'A', 'K', 'E') ++
                text.getBytes("UTF-8"))
          else
            Multimodal.MediaRow(id, "video/mp4",
              Multimodal.syntheticMp4(
                durationS = 60 + id % 86400,
                width = (320 + 16 * (id % 8)).toInt,
                height = (180 + 9 * (id % 8)).toInt,
                twoTracks = id % 2 == 1, v1 = id % 2 == 1))
        }
      Multimodal.decodeVideoMeta(media).toDF()
        .select(col("media_id"),
          coalesce(col("brand"), lit("")).as("brand"),
          col("timescale"),
          col("duration_sec").cast("long").as("duration_s"),
          col("track_count"), col("width"), col("height"),
          col("n_bytes"), col("error").isNotNull.as("is_err"))
        .orderBy("media_id")
    },

    // frame extraction through the pluggable MediaDecoder boundary:
    // payload = the doc text's bytes (pure-ASCII corpus, so the
    // oracle's char-based substr chunks are the same bytes), decoder =
    // the shipping ChunkFrameDecoder(64), everyN=2; every doc_id%97==0
    // gets an EMPTY payload so the error-row contract is oracle-hashed
    // too (one classified error row, job never fails)
    // oracle: chunk windows replayed as char-based substr (byte-identical on
    // the ASCII corpus), same %2 sampling; empty payloads produce the
    // classified error row with md5('')
    Gate("p59_frame_extract",
      """WITH src AS (SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN '' ELSE text END AS payload
        |  FROM documents),
        |f AS (SELECT doc_id, payload,
        |    unnest(range(0, (len(payload) + 63) // 64)) AS i
        |  FROM src WHERE len(payload) > 0)
        |SELECT doc_id, CAST(i AS INT) AS frame_no,
        |  md5(substr(payload, CAST(1 + i * 64 AS INT), 64)) AS frame_md5,
        |  '' AS error
        |FROM f WHERE i % 2 = 0
        |UNION ALL
        |SELECT doc_id, -1 AS frame_no, md5('') AS frame_md5,
        |  'decode failed: empty payload' AS error
        |FROM src WHERE len(payload) = 0
        |ORDER BY doc_id, frame_no""".stripMargin) { (s, d) =>
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"),
          lit("application/octet-stream").as("mime"),
          when(col("doc_id") % 97 === 0,
            lit(Array.emptyByteArray))
            .otherwise(col("text").cast("binary")).as("content"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeFramesWith(media,
          new Multimodal.ChunkFrameDecoder(64), everyN = 2)
        .toDF()
        .select(col("media_id").as("doc_id"), col("frame_no"),
          md5(col("frame")).as("frame_md5"),
          coalesce(col("error"), lit("")).as("error"))
        .orderBy("doc_id", "frame_no")
    },

    // WET/WARC record framing: each source's docs become one synthetic
    // WET file body (conversion records with real Content-Length
    // framing), with THREE adversarial plants — every 7th doc's payload
    // embeds a full decoy record header (only a Content-Length-driven
    // walk keeps it in the payload; a split-on-marker parser mis-frames
    // and fails the hash), each blob ends in an overrun-length garbage
    // tail (exercises the valid=false classification), and one extra
    // blob is a non-WARC text that still carries a CRLFCRLF-terminated
    // Content-Length block (a kernel without the "WARC/" version-magic
    // check frames it as a VALID record and fails the hash). The
    // oracle rebuilds the identical blobs and walks them with a
    // recursive CTE
    // WET/WARC framing oracle: rebuilds the gate's synthetic blobs
    // byte-for-byte (ASCII corpus, so DuckDB's char ops equal the
    // kernel's byte walk — the p59 precedent), then walks them with a
    // RECURSIVE CTE that replays the Content-Length-driven frame
    // advance: each step consumes one record (header block to
    // CRLFCRLF, payload = declared length, +4 terminator — the builder
    // emits exactly that framing, so the kernel's general CR/LF-run
    // skip reduces to +4 on this corpus) and the overrun tail emits the
    // same valid=false record the kernel classifies.
    Gate("p69_warc_records", {
      val c = "chr(13)||chr(10)"
      val c2 = s"$c||$c"
      s"""WITH RECURSIVE rec0 AS (SELECT source, doc_id,
         |    text || CASE WHEN doc_id % 7 = 0
         |      THEN $c2||'WARC/1.0'||$c||'WARC-Type: decoy'||$c
         |        ||'Content-Length: 0'||$c2
         |      ELSE '' END AS payload
         |  FROM documents),
         |rec AS (SELECT source, doc_id,
         |    'WARC/1.0'||$c||'WARC-Type: conversion'||$c
         |    ||'WARC-Target-URI: urn:doc:'||doc_id||$c
         |    ||'WARC-Date: 2026-08-16T00:00:00Z'||$c
         |    ||'Content-Length: '||strlen(payload)||$c2
         |    ||payload||$c2 AS r
         |  FROM rec0),
         |blob AS (SELECT source, string_agg(r, '' ORDER BY doc_id)
         |    ||'WARC/1.0'||$c||'Content-Length: 999999'||$c2||'oops'
         |    AS raw
         |  FROM rec GROUP BY source
         |  UNION ALL
         |  SELECT '__garbage' AS source,
         |    'Not-A-Warc: decoy'||$c||'Content-Length: 3'||$c2||'abc'
         |    AS raw),
         |walk AS (
         |  SELECT source, raw, CAST(-1 AS BIGINT) AS rec_index,
         |    CAST(1 AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS rec_type,
         |    CAST(NULL AS VARCHAR) AS uri,
         |    CAST(NULL AS VARCHAR) AS warc_date,
         |    CAST(NULL AS BIGINT) AS content_length,
         |    CAST(NULL AS VARCHAR) AS payload, true AS valid
         |  FROM blob
         |  UNION ALL
         |  SELECT source, raw, rec_index + 1,
         |    CASE WHEN ok THEN pstart + clen + 4
         |         ELSE strlen(raw) + 1 END,
         |    rtype2, ruri2, rdate2, clen02,
         |    CASE WHEN ok THEN substr(raw, pstart, clen)
         |         WHEN NOT magic THEN substr(raw, pos0)
         |         ELSE substr(raw, pstart) END,
         |    ok
         |  FROM (
         |    SELECT source, raw, rec_index, pstart, pos0, magic,
         |      magic AND clen0 IS NOT NULL
         |        AND pstart + clen0 - 1 <= strlen(raw) AS ok,
         |      COALESCE(clen0, 0) AS clen,
         |      CASE WHEN magic THEN clen0 END AS clen02,
         |      CASE WHEN magic THEN rtype END AS rtype2,
         |      CASE WHEN magic THEN ruri END AS ruri2,
         |      CASE WHEN magic THEN rdate END AS rdate2
         |    FROM (
         |      SELECT source, raw, rec_index, pos AS pos0,
         |        substr(raw, pos, 5) = 'WARC/' AS magic,
         |        pos + he + 3 AS pstart,
         |        TRY_CAST(regexp_extract(hdrs,
         |          'Content-Length: ([0-9]+)', 1) AS BIGINT) AS clen0,
         |        NULLIF(regexp_extract(hdrs,
         |          'WARC-Type: ([^\r]*)', 1), '') AS rtype,
         |        NULLIF(regexp_extract(hdrs,
         |          'WARC-Target-URI: ([^\r]*)', 1), '') AS ruri,
         |        NULLIF(regexp_extract(hdrs,
         |          'WARC-Date: ([^\r]*)', 1), '') AS rdate
         |      FROM (
         |        SELECT source, raw, rec_index, pos,
         |          instr(substr(raw, pos), $c2) AS he,
         |          substr(raw, pos, instr(substr(raw, pos), $c2) - 1)
         |            AS hdrs
         |        FROM walk WHERE valid AND pos <= strlen(raw)))))
         |SELECT source, rec_index, rec_type, uri, warc_date,
         |  content_length, md5(payload) AS payload_md5, valid
         |FROM walk WHERE rec_index >= 0
         |ORDER BY source, rec_index""".stripMargin
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val decoy = "\r\n\r\nWARC/1.0\r\nWARC-Type: decoy\r\n" +
        "Content-Length: 0\r\n\r\n"
      val payload = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(decoy)).otherwise(lit("")))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: conversion\r\n" +
          "WARC-Target-URI: urn:doc:"), col("doc_id"),
        lit("\r\nWARC-Date: 2026-08-16T00:00:00Z\r\nContent-Length: "),
        octet_length(payload),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val blobs = docs
        .select(col("source"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy("source")
        .agg(concat(
          array_join(transform(array_sort(collect_list(col("r"))),
            x => x("rec")), ""),
          lit("WARC/1.0\r\nContent-Length: 999999\r\n\r\noops"))
          .as("raw"))
        .unionByName(s.range(1).select(lit("__garbage").as("source"),
          lit("Not-A-Warc: decoy\r\nContent-Length: 3\r\n\r\nabc")
            .as("raw")))
      blobs.select(col("source"),
          posexplode(graft.functions.F.warcRecords(col("raw")))
            .as(Seq("rec_index", "rec")))
        .select(col("source"),
          col("rec_index").cast("long").as("rec_index"),
          col("rec.rec_type").as("rec_type"),
          col("rec.uri").as("uri"),
          col("rec.date").as("warc_date"),
          col("rec.content_length").as("content_length"),
          md5(col("rec.payload")).as("payload_md5"),
          col("rec.valid").as("valid"))
        .orderBy("source", "rec_index")
    }
  )
}
