package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Bm25, Bpe, QualityModel, Similarity, TextStats}
import graft.sources.Warc

/** Model-facing data artifacts on the driver surface: the corpus n-gram
  * table, contrastive hard negatives, WARC ingest round-trip, the
  * trainable quality classifier, and BPE vocabulary learning.
  */
object ModelDataQueries {

  private type Q = (SparkSession, String) => DataFrame

  /** Payload for the WARC round trip: docs at `doc_id % 23 == 0` carry a
    * decoy — a syntactically perfect WARC header INSIDE the payload —
    * so the oracle passes only if framing is Content-Length-driven (any
    * delimiter/regex splitter shears these payloads).
    */
  private def warcPayload = when(pmod(col("doc_id"), lit(23)) === 0,
      concat(col("text"),
        lit("\r\nWARC/1.0\r\nContent-Length: 999999\r\n\r\n")))
    .otherwise(col("text"))

  // q152 charset-decode fixtures: per-leg non-ASCII tails, each
  // encodable in its leg's charset (the doc text itself is ASCII-only,
  // so the tail carries all the charset-sensitive bytes). Shared with
  // the oracle's closed-form expected strings.
  private[queries] val charsetLatTail = " café àèî ©±"
  private[queries] val charsetCpTail = " café €—™"
  private[queries] val charsetMetaPrefix = "<meta charset=iso-8859-1><p>"
  private[queries] val charsetMetaTail = " naïve ôü"
  private[queries] val charsetUtfTail = " — 中文 €"
  private[queries] val charsetBogusTail = " résumé ✓"
  private[queries] val charsetBomTail = " utf16 le ✓ é"

  /** q123's shared half: word frequencies + 12 learned merges. The
    * GATED variant runs the distributed iteration explicitly
    * (`learnMergesDistributed` — the gate's whole subject is
    * distributed == single-process parity; the routed entry point would
    * take the local path at this dictionary size and compare local to
    * local). The serving variant measures what a user actually ships:
    * the hybrid-routed [[Bpe.learnMerges]]. The word-frequency frame
    * persists across the iteration and releases before return.
    */
  private def bpeLearned(s: SparkSession, dir: String,
                         withReference: Boolean): DataFrame = {
    import s.implicits._
    val wf = Bpe.wordFrequencies(Tables(s, dir, "documents"), "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val learned =
        if (withReference) Bpe.learnMergesDistributed(wf, numMerges = 12)
        else Bpe.learnMerges(wf, numMerges = 12)
      val got = s.createDataset(learned)
        .select(col("rank").cast("long").as("rank"), col("left"),
          col("right"), col("count").as("cnt"))
      if (!withReference) got.orderBy("rank")
      else {
        // the gate's independent recomposition: the single-process
        // reference over the COLLECTED dictionary (bounded — distinct
        // words, Zipf-sized) must produce the identical merge table
        val ref = s.createDataset(Bpe.learnMergesLocal(
            wf.as[(String, Long)].collect().toSeq, numMerges = 12))
          .select(col("rank").cast("long").as("rank"), col("left"),
            col("right"), col("count").as("cnt"))
        val key = concat_ws("|", col("rank"), col("left"), col("right"), col("cnt"))
        Gates.setParity(got.withColumn("__k", key), ref.withColumn("__k", key), "__k")
          .drop("__k").orderBy("rank")
      }
    } finally wf.unpersist()
  }

  /** q130's shared half: learn 12 merges (hybrid route), encode the
    * corpus with the per-word lowest-rank-first loop ([[Bpe.encode]]).
    * The GATED variant also encodes via the independent rank-order
    * columnar route ([[Bpe.encodeColumnar]]) and requires the full
    * token SEQUENCES to agree doc-for-doc (fingerprint over the joined
    * token list) — two structurally different implementations of BPE
    * application must produce identical segmentations. Docs with at
    * least one token only (the columnar route has no row to carry an
    * empty doc).
    */
  private def bpeEncoded(s: SparkSession, dir: String,
                         gated: Boolean): DataFrame = {
    val docs = Tables(s, dir, "documents").where(col("text").isNotNull &&
      size(graft.functions.TextFns.tokens(col("text"))) > 0)
    val merges = Bpe.learnMerges(
      Bpe.wordFrequencies(docs, "text"), numMerges = 12)
    // \n-joined: tokens are whitespace-split, so none can contain the
    // separator and the fingerprint sees every token boundary
    def fingerprinted(enc: DataFrame): DataFrame =
      enc.select(col("id").as("doc_id"), col("n_bpe_tokens"),
        xxhash64(concat_ws("\n", col("bpe_tokens"))).as("tok_fp"))
    val loop = fingerprinted(Bpe.encode(docs, "text", "doc_id", merges))
    val out =
      if (!gated) loop
      else {
        val columnar = fingerprinted(
          Bpe.encodeColumnar(docs, "text", "doc_id", merges))
        val key = concat_ws("|",
          col("doc_id"), col("n_bpe_tokens"), col("tok_fp"))
        Gates.setParity(loop.withColumn("__k", key),
            columnar.withColumn("__k", key), "__k")
          .drop("__k")
      }
    out.orderBy("doc_id")
  }

  def defs: Map[String, Q] = Map(
    // Corpus n-gram count table: top-20 grams at orders 1..3,
    // deterministic ranking — one projection generates every order.
    "q119_ngram_table" -> ((s, dir) => {
      TextStats.ngramCountTable(Tables(s, dir, "documents"), "text",
          maxOrder = 3, topK = 20)
        .select(col("ord").cast("long").as("ord"), col("gram"), col("cnt"),
          col("rank").cast("long").as("rank"))
        .orderBy("ord", "rank")
    }),

    // Contrastive hard negatives: per anchor (vec_id % 50 == 0) the 5
    // most similar corpus vectors strictly below the near-dup bound.
    "q120_hard_negatives" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val anchors = emb.where(pmod(col("vec_id"), lit(50)) === 0)
      Similarity.hardNegatives(anchors, emb, "embedding",
          "vec_id", "vec_id", k = 5, dupThreshold = 0.95)
        .select(col("anchor_id"), col("negative_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
        .orderBy("anchor_id", "rank")
    }),

    // WARC ingest round trip: render every doc into multi-record WARC
    // blobs in-plan (37 "files", records in doc_id order), parse with
    // the byte-level Content-Length parser, emit per-record identity —
    // the oracle recomputes uri/length/md5 straight from `documents`,
    // so any framing error (including shearing on the in-payload decoy
    // headers) breaks the hash.
    "q121_warc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(pmod(col("doc_id"), lit(37)).as("file_id"), col("doc_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("uri"),
          warcPayload.as("payload"))
        .as[(Long, Long, String, String)]
      val files = docs.groupByKey(_._1).mapGroups { (fid, it) =>
        val out = new java.io.ByteArrayOutputStream()
        it.toSeq.sortBy(_._2).foreach { case (_, id, uri, pay) =>
          out.write(Warc.render("response", s"<urn:graft:$id>", uri,
            pay.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
        (s"mem://$fid.warc", out.toByteArray)
      }.toDF("path", "content")
      Warc.records(files)
        .where(col("valid"))
        .select(
          regexp_extract(col("record_id"), "<urn:graft:(\\d+)>", 1)
            .cast("long").as("doc_id"),
          col("target_uri").as("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // Trainable quality classifier: 3 full-batch GD steps at lr=0.5 on
    // the fixed 5-feature featurizer, label = (lang = 'en'); emits the
    // one-row fit summary. The oracle unrolls all three steps in SQL.
    "q122_quality_model" -> ((s, dir) => {
      val feats = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(QualityModel.features(col("text")).as("f"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val w = QualityModel.trainLogistic(feats, "f", "y",
          dim = QualityModel.FeatureDim, steps = 3, lr = 0.5)
        QualityModel.fitSummary(feats, "f", "y", w).localCheckpoint(true)
      } finally feats.unpersist()
    }),

    // BPE vocabulary learning, gated: the distributed dictionary
    // iteration must equal the single-process reference merge-for-merge
    // (rank, pair, count) — iterative argmax semantics no SQL oracle
    // can mirror, so the gate is exact table parity with an independent
    // recomposition (the q82 convention).
    "q123_bpe_merges" -> ((s, dir) => bpeLearned(s, dir, withReference = true)),

    // Gzipped WARC round trip — q121's framing subject over the gzip
    // layer: blobs compress in-plan as member-per-record `.warc.gz`
    // (Common Crawl's on-disk convention; every 5th file whole-file
    // gzipped instead, so both layouts are exercised), records()
    // auto-detects and decompresses per file, and the oracle recomputes
    // per-record identity straight from `documents` — a framing OR
    // decompression error (including on the in-payload decoy headers)
    // breaks the hash.
    "q126_warc_gzip" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(pmod(col("doc_id"), lit(37)).as("file_id"), col("doc_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("uri"),
          warcPayload.as("payload"))
        .as[(Long, Long, String, String)]
      val files = docs.groupByKey(_._1).mapGroups { (fid, it) =>
        val recs = it.toSeq.sortBy(_._2).map { case (_, id, uri, pay) =>
          Warc.render("response", s"<urn:graft:$id>", uri,
            pay.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val bytes =
          if (fid % 5 == 0) Warc.gzipMember(recs.reduce(_ ++ _))
          else recs.map(Warc.gzipMember).reduce(_ ++ _)
        (s"mem://$fid.warc.gz", bytes)
      }.toDF("path", "content")
      Warc.records(files)
        .where(col("valid"))
        .select(
          regexp_extract(col("record_id"), "<urn:graft:(\\d+)>", 1)
            .cast("long").as("doc_id"),
          col("target_uri").as("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // HTML -> text extraction, oracled end to end: each doc renders as a
    // full HTML page in-plan (doctype, title, script/style/comment
    // decoys, inline tags in the h1, per-line <p> body over text made
    // deliberately messy — injected markup characters, blank lines,
    // whitespace runs — plus an entity footer), html_text extracts, and
    // the oracle composes the expected text in closed form from
    // `documents` via the extraction's documented whitespace contract.
    // Any tag-strip / entity-decode / segmentation error breaks the hash.
    "q127_html_extract" -> ((s, dir) => {
      val messy = concat(
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("  A&B <tag> x  \n\n  ")).otherwise(lit("")),
        col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("\n line2  with   spaces \n\tline3 > 5 ")).otherwise(lit("")))
      val esc = regexp_replace(regexp_replace(regexp_replace(
        messy, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val body = concat_ws("",
        transform(split(esc, "\n"), l => concat(lit("<p>"), l, lit("</p>"))))
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id"),
        lit("</title><script>var trap = \"<p>decoy & x</p>\";</script>"),
        lit("<style>p{color:red}</style></head><body><!-- hidden -->"),
        lit("<h1>Doc <b>"), col("doc_id"), lit("</b></h1>"), body,
        lit("<p>f&amp;oo &lt;b&gt; &#8212; &#x2014; tail</p></body></html>"))
      Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.HtmlTextExpr.htmlText(html).as("extracted"))
        .orderBy("doc_id")
    }),

    // Charset-aware HTTP body decode, oracled end to end: per doc a
    // FULL HTTP response whose body is encoded in a per-leg charset and
    // declared per-leg (header charset / <meta> sniff / no declaration
    // / a bogus charset name that must quarantine to UTF-8 / a UTF-16LE
    // BOM that must OVERRIDE a lying header), split by the real
    // Warc.httpResponses path and decoded by decode_http_body. The
    // oracle states each leg's decoded string in closed form — any
    // resolution-precedence or decode error breaks the hash.
    "q152_charset_decode" -> ((s, dir) => {
      val leg = pmod(col("doc_id"), lit(6))
      val ct = when(leg === 0, lit("text/html; charset=ISO-8859-1"))
        .when(leg === 1, lit("text/html; charset=windows-1252"))
        .when(leg === 2, lit("text/html"))
        .when(leg === 4, lit("text/html; charset=bogus-zz-9"))
        .when(leg === 5, lit("text/html; charset=ISO-8859-1")) // the lie
        .otherwise(lit(""))
      val head = concat(lit("HTTP/1.1 200 OK\r\n"),
        when(ct === "", lit("Server: graft\r\n"))
          .otherwise(concat(lit("Content-Type: "), ct, lit("\r\n"))),
        lit("\r\n"))
      // cp1252 tail bytes are a fixed literal (Spark's encode() has no
      // windows-1252): the doc text itself is ASCII-only, so only the
      // tail needs the exotic bytes
      val cpTailBytes = lit(charsetCpTail.getBytes("windows-1252"))
      val bomLe = lit(Array(0xFF.toByte, 0xFE.toByte))
      val body = when(leg === 0,
          encode(concat(col("text"), lit(charsetLatTail)), "ISO-8859-1"))
        .when(leg === 1, concat(encode(col("text"), "UTF-8"), cpTailBytes))
        .when(leg === 2, encode(
          concat(lit(charsetMetaPrefix), col("text"), lit(charsetMetaTail)),
          "ISO-8859-1"))
        .when(leg === 4, encode(concat(col("text"), lit(charsetBogusTail)), "UTF-8"))
        .when(leg === 5, concat(bomLe,
          encode(concat(col("text"), lit(charsetBomTail)), "UTF-16LE")))
        .otherwise(encode(concat(col("text"), lit(charsetUtfTail)), "UTF-8"))
      val recs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(lit("mem://charset.warc").as("path"),
          col("doc_id").as("offset"),
          concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("record_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("target_uri"),
          concat(encode(head, "UTF-8"), body).as("payload"),
          lit(true).as("valid"), lit("response").as("warc_type"))
      val decoded = graft.functions.HttpDecodeExpr.decodeHttpBody(
        col("http_body"),
        coalesce(element_at(col("http_headers"), lit("content-type")), lit("")))
      Warc.httpResponses(recs)
        .select(col("offset").as("doc_id"),
          md5(decoded).as("decoded_md5"),
          length(decoded).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Chunked transfer-encoding, oracled end to end: per-leg chunked
    // captures (multi-chunk split whose sizes cross the text, a chunk
    // extension + trailer-field leg, an unchunked control, a TRUNCATED
    // capture whose last chunk declares more bytes than the record
    // holds) run through the real path — Warc.httpResponses →
    // dechunk_http_body (Transfer-Encoding header) → decode_http_body
    // (Content-Type charset). The oracle states each leg's decoded
    // string in closed form; any framing slip (size line left in the
    // content, data CRLF eaten, trailer leaked) breaks the hash.
    "q157_chunked_decode" -> ((s, dir) => {
      val leg = pmod(col("doc_id"), lit(4))
      val crlf = lit("\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      def ascii(t: String) =
        lit(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val bLat = encode(concat(col("text"), lit(charsetLatTail)), "ISO-8859-1")
      val bUtf = encode(concat(col("text"), lit(charsetUtfTail)), "UTF-8")
      def hexLine(n: Column) = encode(concat(lower(hex(n)), lit("\r\n")), "UTF-8")
      // 5 + 11 + remainder: the second boundary lands mid-text
      def chunk3(b: Column) = concat(
        ascii("5\r\n"), b.substr(lit(1), lit(5)), crlf,
        ascii("b\r\n"), b.substr(lit(6), lit(11)), crlf,
        hexLine(length(b) - 16),
        b.substr(lit(17), (length(b) - 16).cast("int")), crlf,
        ascii("0\r\n\r\n"))
      // chunk extension on the size line + a trailer field after the
      // 0-chunk: both are framing, neither may leak into content
      def chunkExtTrailer(b: Column) = concat(
        ascii("5;ext=\"v\"\r\n"), b.substr(lit(1), lit(5)), crlf,
        hexLine(length(b) - 5),
        b.substr(lit(6), (length(b) - 5).cast("int")), crlf,
        ascii("0\r\nx-graft-trailer: t\r\n\r\n"))
      // truncated capture: declares 0x14 = 20 bytes, record holds 10.
      // NOTE: this leg's slices are BYTE offsets over the encoded body
      // (binary substr) while the oracle mirrors them with DuckDB's
      // CHARACTER substr(text, 1, 15) — they agree only because the
      // documents corpus text is ASCII (1 byte = 1 codepoint, pinned
      // by the same ASCII contract the charset fixtures rely on). A
      // non-ASCII corpus would split a multibyte char here and break
      // the md5 mirror; leg 0/1's boundaries cut the ASCII head too.
      def chunkTruncated(b: Column) = concat(
        ascii("5\r\n"), b.substr(lit(1), lit(5)), crlf,
        ascii("14\r\n"), b.substr(lit(6), lit(10)))
      val body = when(leg === 0, chunk3(bLat))
        .when(leg === 1, chunkExtTrailer(bUtf))
        .when(leg === 3, chunkTruncated(bUtf))
        .otherwise(bUtf)
      val ct = when(leg === 0, lit("Content-Type: text/html; charset=ISO-8859-1\r\n"))
        .when(leg === 1, lit("Content-Type: text/html; charset=UTF-8\r\n"))
        .otherwise(lit(""))
      val te = when(leg === 2, lit("Server: graft\r\n"))
        .otherwise(lit("Transfer-Encoding: chunked\r\n"))
      val head = concat(lit("HTTP/1.1 200 OK\r\n"), ct, te, lit("\r\n"))
      val recs = Tables(s, dir, "documents")
        .where(col("text").isNotNull && length(col("text")) >= 16)
        .select(lit("mem://chunked.warc").as("path"),
          col("doc_id").as("offset"),
          concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("record_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("target_uri"),
          concat(encode(head, "UTF-8"), body).as("payload"),
          lit(true).as("valid"), lit("response").as("warc_type"))
      val dechunked = graft.functions.HttpDecodeExpr.dechunkHttpBody(
        col("http_body"),
        coalesce(element_at(col("http_headers"), lit("transfer-encoding")),
          lit("")))
      val decoded = graft.functions.HttpDecodeExpr.decodeHttpBody(
        dechunked,
        coalesce(element_at(col("http_headers"), lit("content-type")), lit("")))
      Warc.httpResponses(recs)
        .select(col("offset").as("doc_id"),
          md5(decoded).as("decoded_md5"),
          length(decoded).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // BM25 retrieval: every 101st doc becomes a query (its first five
    // tokens), top-10 hits over the whole corpus — idf, length
    // normalization, rounding-before-rank and the doc_id tiebreak all
    // hash-checked against DuckDB's closed-form mirror.
    "q129_bm25_topk" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
      val queries = docs
        .where(pmod(col("doc_id"), lit(101)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(
            graft.functions.TextFns.tokens(lower(col("text"))), 1, 5), " ")
            .as("qtext"))
      Bm25.topK(docs, queries, "doc_id", "text", "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "q130_bpe_encode" -> ((s, dir) => bpeEncoded(s, dir, gated = true)),

    // Retrieval-quality evaluation (nDCG@10 + MRR) over the q129 runs:
    // graded judgments in closed form — the query doc itself rel 2,
    // every non-blank doc congruent mod 50 rel 1 — so the oracle can
    // recompute runs AND metrics end to end. Closes the retrieval
    // feedback loop: tune/regress ranking changes against judged
    // relevance without a human in the loop.
    "q146_retrieval_eval" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
      val queries = docs
        .where(pmod(col("doc_id"), lit(101)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(
            graft.functions.TextFns.tokens(lower(col("text"))), 1, 5), " ")
            .as("qtext"))
      val runs = Bm25.topK(docs, queries, "doc_id", "text",
        "query_id", "qtext", k = 10)
      val cands = docs.where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(50)).as("__m"))
      val qrels = queries
        .select(col("query_id"), pmod(col("query_id"), lit(50)).as("__m"))
        .join(cands, "__m")
        .select(col("query_id"), col("doc_id"),
          when(col("doc_id") === col("query_id"), lit(2))
            .otherwise(lit(1)).as("rel"))
      Bm25.evaluateRuns(runs, qrels, k = 10)
        .orderBy("query_id")
    }),

    // Retrieval-based decontamination: every 97th doc is a benchmark
    // item querying the rest of the corpus (BM25 top-5, score floor 1);
    // each flagged doc reports hit count, best score, and the
    // highest-scoring item — the near-miss review queue beside the
    // exact n-gram clean. Fully oracled.
    "q131_retrieval_decon" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
      graft.operators.Decontaminate.byRetrieval(
          docs.where(pmod(col("doc_id"), lit(97)) =!= 0), "text", "doc_id",
          docs.where(pmod(col("doc_id"), lit(97)) === 0), "text", "doc_id",
          k = 5, minScore = 1.0)
        .orderBy("doc_id")
    }),

    // Sliding-window chunking (the retrieval/embedding layout): windows
    // of 40 tokens at stride 25 per doc, tail always covered, trailing
    // windows short — start arithmetic, window contents (md5'd), and
    // counts all hash-checked.
    "q132_sliding_chunks" -> ((s, dir) => {
      graft.operators.Packing.slidingWindows(
          Tables(s, dir, "documents"), "text", "doc_id",
          window = 40, stride = 25)
        .select(col("doc_id"), col("chunk_idx"), col("start_token"),
          col("n_tokens"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Term-distribution drift: src1 vs the rest of the corpus —
    // per-term counts, unigram probabilities, and Jensen–Shannon
    // contributions (the release-health monitor), tail-thinned to
    // terms with >= 25 total occurrences.
    "q133_term_drift" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextStats.termDrift(docs.where(col("source") === "src1"),
          docs.where(col("source") =!= "src1"), "text", minCount = 25L)
        .select(col("term"), col("cnt_a"), col("cnt_b"),
          round(col("p_a"), 8).as("p_a"), round(col("p_b"), 8).as("p_b"),
          round(col("js_contrib"), 9).as("js_contrib"))
        .orderBy("term")
    }),

    "q137_bm25_disk" -> mkQ137(gated = true),

    // Max-score (WAND-family) pruned BM25 top-k: same queries as q129,
    // results gated to EXACT parity with the unpruned route (key =
    // query:doc:rank:score) AND oracled against the same closed-form
    // BM25 mirror — the pruning is a pure plan optimization, never a
    // semantics change.
    "q153_bm25_maxscore" -> mkQ153(gated = true),

    // Term-bucketed persistent index + compaction artifacts on the
    // driver surface: append -> compact (bucket-partitioned compaction
    // dir, dl/stats artifacts) -> append (artifact + tail merge) ->
    // file-pruned query; gated to exact parity with the inline index
    // and oracled via the shared q129 mirror.
    "q155_bm25_bucketed" -> mkQ137(gated = true, termBuckets = 8,
      compactMid = true),

    // The two retrieval pruning levers COMPOSED: max-score's
    // essential/non-essential term split drives the term-bucketed
    // store's file pruning — the θ seed reads only the rarest terms'
    // buckets, essential postings only theirs, the non-essential probe
    // only its own. Same corpus/queries/index lifecycle as q155; gated
    // to exact parity with the inline unpruned index and oracled via
    // the shared q129 mirror.
    "q156_bm25_bucketed_maxscore" -> mkQ137(gated = true, termBuckets = 8,
      compactMid = true, maxScore = true),

    // Mixture planning: largest token total at exactly 50/30/20 across
    // three sources within a 6000-token budget (availability binds at
    // small SFs, the budget at large — both branches live), with the
    // per-source take and sampling fraction.
    "q125_mixture_allocation" -> ((s, dir) => {
      val avail = Tables(s, dir, "documents")
        .groupBy(col("source").as("stratum"))
        .agg(sum(graft.functions.TextFns.tokenCount(col("text"))).as("n_tokens"))
      graft.operators.Sampling.mixtureAllocation(avail, "stratum", "n_tokens",
          Map("src1" -> 0.5, "src2" -> 0.3, "src5" -> 0.2), budget = 6000L)
        .orderBy("stratum")
    })
  )

  /** Gate-free serving variant (Bench's serving/gate split). */
  def serving: Map[String, Q] = Map(
    "q123_bpe_merges" -> ((s, dir) => bpeLearned(s, dir, withReference = false)),
    "q130_bpe_encode" -> ((s, dir) => bpeEncoded(s, dir, gated = false)),
    "q137_bm25_disk" -> mkQ137(gated = false),
    "q153_bm25_maxscore" -> mkQ153(gated = false),
    "q155_bm25_bucketed" -> mkQ137(gated = false, termBuckets = 8,
      compactMid = true),
    "q156_bm25_bucketed_maxscore" -> mkQ137(gated = false, termBuckets = 8,
      compactMid = true, maxScore = true)
  )

  /** q153's shared half: max-score pruned retrieval over the q129
    * corpus/queries; the gated variant pins exact (query, doc, rank,
    * score) parity with the unpruned [[Bm25.topK]]. The tf frame
    * persists across both routes' consumers, owned by the build.
    */
  private def mkQ153(gated: Boolean): Q = (s, dir) => {
    val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
    val queries = docs
      .where(pmod(col("doc_id"), lit(101)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(
          graft.functions.TextFns.tokens(lower(col("text"))), 1, 5), " ")
          .as("qtext"))
    val ix0 = Bm25.index(docs, "doc_id", "text")
    val tf = ix0.tf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ix = Bm25.Index(tf, tf.groupBy("doc_id").agg(sum("tf").as("dl")))
    val pruned = Bm25.topKMaxScore(ix, queries, "query_id", "qtext", k = 10)
    val out =
      if (!gated) pruned
      else {
        val plain = Bm25.topK(ix, queries, "query_id", "qtext", k = 10)
        def key(d: DataFrame) = d.select(concat_ws(":",
          col("query_id"), col("doc_id"), col("rank"), col("score")).as("k"))
        Gates.setParityOn(pruned, key(pruned), key(plain), "k")
      }
    graft.core.Frames.own(s, tf)
    out.select(col("query_id"), col("doc_id"), col("score"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Persistent BM25 retrieval: the corpus lands in [[Bm25.DiskIndex]]
    * as two idempotent batch appends (the streaming-ingest shape; one
    * re-delivered batch id proves the no-double-count contract
    * in-plan), then the STORED index serves the q129 query set. Gated
    * on exact hit-set parity (query_id:doc_id:rank) against the inline
    * index over the same corpus plus a 1e-9 score-agreement cap — the
    * disk route must be indistinguishable from a fresh index. The
    * serving variant measures what a user ships: append + read + topK,
    * no second index.
    */
  /** q137/q155's shared half. q155 (`termBuckets = 8, compactMid =
    * true`) drives the term-bucketed layout + compaction artifacts on
    * the driver surface: batch 0 → compact (artifacts materialize, the
    * compaction dir is bucket-partitioned) → batch 1 (the artifact +
    * tail merge path) → the file-pruned query — all gated to exact
    * parity with the inline index AND oracled via the shared q129
    * mirror.
    */
  private def mkQ137(gated: Boolean, termBuckets: Int = 0,
                     compactMid: Boolean = false,
                     maxScore: Boolean = false): Q = (s, dir) => {
    val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
    val queries = docs.where(pmod(col("doc_id"), lit(101)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(
          graft.functions.TextFns.tokens(lower(col("text"))), 1, 5), " ")
          .as("qtext"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_q137_ix").toString
    val ix = new Bm25.DiskIndex(root, termBuckets)
    ix.append(docs.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", 0L)
    if (compactMid) ix.compact(s)
    ix.append(docs.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", 1L)
    // re-delivery no-ops: a restarted ingest must not double-count
    ix.append(docs.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", 0L)
    val disk =
      if (maxScore) ix.topKMaxScore(s, queries, "query_id", "qtext", k = 10)
      else ix.topK(s, queries, "query_id", "qtext", k = 10)
    val out =
      if (!gated) disk
      else {
        val inline =
          Bm25.topK(docs, queries, "doc_id", "text", "query_id", "qtext", k = 10)
        def key(d: DataFrame) = d.select(
          concat_ws(":", col("query_id"), col("doc_id"), col("rank")).as("k"))
        val scoreGap = disk.as("d")
          .join(inline.as("i"), Seq("query_id", "doc_id"))
          .agg(max(abs(col("d.score") - col("i.score"))).as("__gap"))
        Gates.setParityOn(disk, key(disk), key(inline), "k")
          .crossJoin(broadcast(scoreGap))
          .where(col("__gap") <= 1e-9).drop("__gap")
      }
    out.select(col("query_id"), col("doc_id"),
        round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val cosSql =
    """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      | sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"""
      .stripMargin.replaceAll("\n", " ")

  /** DuckDB fragments for the q122 featurizer — mirrors
    * [[QualityModel.features]] column-for-column ('g' flag: DuckDB's
    * regexp_replace is first-match by default, Spark's is global).
    */
  private def ratioSql(pattern: String): String =
    s"""CASE WHEN len(text)=0 THEN 0.0
       | ELSE CAST(len(text)-len(regexp_replace(text,'$pattern','','g')) AS DOUBLE)/len(text) END"""
      .stripMargin.replaceAll("\n", " ")

  private def gAvg(src: String, residual: String): String =
    (0 until 5).map(j => s"avg(($residual)*f$j) AS g$j").mkString(
      s"SELECT ", ", ", s" FROM $src")

  private def margin(w: String): String =
    (0 until 5).map(j => s"$w.c$j*f$j").mkString("+")

  // The q129 BM25 run in closed form — tf/dl/df/avgdl over the same
  // lowercased whitespace tokens, the Lucene idf, round-before-rank
  // with the doc_id tiebreak — as a reusable CTE prefix (q129 selects
  // the run; q146 evaluates metrics over it).
  private val bm25RunCtes =
    """d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
      | tf AS (SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS term FROM d) GROUP BY 1, 2),
      | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      | st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      | qt AS (SELECT DISTINCT doc_id AS query_id, unnest(w[1:5]) AS term
      |  FROM d WHERE doc_id % 101 = 0),
      | df AS (SELECT term, count(*) AS df FROM tf
      |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
      | sc AS (SELECT qt.query_id, tf.doc_id,
      |   round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
      |     tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM qt JOIN df ON qt.term = df.term JOIN tf ON qt.term = tf.term
      |   JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |  GROUP BY 1, 2),
      | r AS (SELECT query_id, doc_id, score, row_number() OVER
      |   (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS "rank" FROM sc)"""
      .stripMargin

  def oracles: Map[String, String] = Map(
    // expected decoded strings in closed form, leg by leg — a decode
    // that honors the wrong declaration (or misses the BOM override)
    // produces different chars and breaks the md5
    "q152_charset_decode" ->
      s"""WITH d AS (SELECT doc_id,
        |   CASE CAST(doc_id % 6 AS INT)
        |     WHEN 0 THEN text || '$charsetLatTail'
        |     WHEN 1 THEN text || '$charsetCpTail'
        |     WHEN 2 THEN '$charsetMetaPrefix' || text || '$charsetMetaTail'
        |     WHEN 4 THEN text || '$charsetBogusTail'
        |     WHEN 5 THEN text || '$charsetBomTail'
        |     ELSE text || '$charsetUtfTail' END AS expected
        |  FROM documents WHERE text IS NOT NULL)
        | SELECT doc_id, md5(expected) AS decoded_md5,
        |   CAST(length(expected) AS BIGINT) AS n_chars
        | FROM d ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // per-leg expected strings in closed form — a dechunk that leaks a
    // size line, eats a data CRLF, or keeps a trailer produces different
    // chars and breaks the md5; the truncated leg pins the salvage
    // posture (first 5 + 10 available bytes = 15 chars)
    "q157_chunked_decode" ->
      s"""WITH d AS (SELECT doc_id,
        |   CASE CAST(doc_id % 4 AS INT)
        |     WHEN 0 THEN text || '$charsetLatTail'
        |     WHEN 1 THEN text || '$charsetUtfTail'
        |     WHEN 3 THEN substr(text, 1, 15)
        |     ELSE text || '$charsetUtfTail' END AS expected
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16)
        | SELECT doc_id, md5(expected) AS decoded_md5,
        |   CAST(length(expected) AS BIGINT) AS n_chars
        | FROM d ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q129_bm25_topk" ->
      s"""WITH $bm25RunCtes
        | SELECT query_id, doc_id, score, CAST("rank" AS BIGINT) AS "rank"
        | FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin
        .replaceAll("\n", " "),
    // max-score pruning is results-identical to q129 by construction
    // (and in-plan gated on it), so the same closed-form mirror applies
    "q153_bm25_maxscore" ->
      s"""WITH $bm25RunCtes
        | SELECT query_id, doc_id, score, CAST("rank" AS BIGINT) AS "rank"
        | FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin
        .replaceAll("\n", " "),
    // the disk route is results-identical to the inline index (in-plan
    // gated to exact hit-set parity + the 1e-9 score cap), so q129's
    // closed-form mirror applies — upgraded from rows-only in r14
    "q137_bm25_disk" ->
      s"""WITH $bm25RunCtes
        | SELECT query_id, doc_id, score, CAST("rank" AS BIGINT) AS "rank"
        | FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin
        .replaceAll("\n", " "),
    // the bucketed disk route is results-identical to the inline index
    // (in-plan gated), so q129's mirror applies here too
    "q155_bm25_bucketed" ->
      s"""WITH $bm25RunCtes
        | SELECT query_id, doc_id, score, CAST("rank" AS BIGINT) AS "rank"
        | FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin
        .replaceAll("\n", " "),
    // bucketed max-score composition: pruning is a plan optimization
    // on both levers, results-identical to q129's closed form
    "q156_bm25_bucketed_maxscore" ->
      s"""WITH $bm25RunCtes
        | SELECT query_id, doc_id, score, CAST("rank" AS BIGINT) AS "rank"
        | FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin
        .replaceAll("\n", " "),
    // metrics re-derived from the same run CTEs + the closed-form
    // graded judgments (self rel 2, mod-50 congruents rel 1)
    "q146_retrieval_eval" ->
      s"""WITH $bm25RunCtes,
        | run AS (SELECT query_id, doc_id, "rank" FROM r WHERE "rank" <= 10),
        | qr AS (SELECT q2.query_id, d2.doc_id,
        |    CASE WHEN d2.doc_id = q2.query_id THEN 2 ELSE 1 END AS rel
        |  FROM (SELECT DISTINCT query_id FROM qt) q2
        |  JOIN (SELECT doc_id FROM d) d2 ON d2.doc_id % 50 = q2.query_id % 50),
        | pq AS (SELECT run.query_id,
        |    sum(CASE WHEN qr.rel IS NULL THEN 0.0
        |      ELSE (pow(2, qr.rel) - 1) / log2(run."rank" + 1) END) AS dcg,
        |    max(CASE WHEN qr.rel IS NOT NULL THEN 1.0 / run."rank" END) AS mrr
        |  FROM run LEFT JOIN qr
        |    ON run.query_id = qr.query_id AND run.doc_id = qr.doc_id
        |  GROUP BY 1),
        | ideal AS (SELECT query_id, count(*) AS n_rel,
        |    sum(CASE WHEN rn <= 10 THEN (pow(2, rel) - 1) / log2(rn + 1) ELSE 0.0 END) AS idcg
        |  FROM (SELECT query_id, rel, doc_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rn FROM qr)
        |  GROUP BY 1)
        | SELECT pq.query_id, coalesce(ideal.n_rel, 0) AS n_rel,
        |   round(coalesce(pq.mrr, 0.0), 6) AS mrr,
        |   round(CASE WHEN coalesce(ideal.idcg, 0) > 0
        |     THEN pq.dcg / ideal.idcg ELSE 0.0 END, 6) AS ndcg
        | FROM pq LEFT JOIN ideal USING (query_id)
        | ORDER BY query_id""".stripMargin.replaceAll("\n", " "),
    // q131: the q129 scoring mirror with corpus = non-benchmark docs,
    // queries = benchmark docs' full text, then the per-doc evidence
    // rollup (hit count, max score, argmax item with the ties-high rule).
    "q131_retrieval_decon" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 97 <> 0),
        | tf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS term FROM d) GROUP BY 1, 2),
        | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        | st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        | qt AS (SELECT DISTINCT doc_id AS query_id, unnest(w) AS term
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |   FROM documents WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 97 = 0)),
        | df AS (SELECT term, count(*) AS df FROM tf
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
        | sc AS (SELECT qt.query_id, tf.doc_id,
        |   round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
        |     tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM qt JOIN df ON qt.term = df.term JOIN tf ON qt.term = tf.term
        |   JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY 1, 2),
        | r AS (SELECT query_id, doc_id, score, row_number() OVER
        |   (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk FROM sc),
        | h AS (SELECT query_id, doc_id, score FROM r WHERE rk <= 5 AND score >= 1.0),
        | g AS (SELECT doc_id, count(*) AS n_hits FROM h GROUP BY 1),
        | b AS (SELECT doc_id, score AS max_score, query_id AS top_benchmark_id,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, query_id DESC) AS rn
        |  FROM h)
        | SELECT g.doc_id, g.n_hits, b.max_score, b.top_benchmark_id
        | FROM g JOIN b ON g.doc_id = b.doc_id AND b.rn = 1 ORDER BY g.doc_id""".stripMargin
        .replaceAll("\n", " "),
    "q132_sliding_chunks" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | c AS (SELECT doc_id, i AS chunk_idx, i*25 AS start_token,
        |   w[i*25+1 : least(i*25+40, len(w))] AS chunk
        |  FROM d, unnest(generate_series(0, (len(w)-1)//25)) AS t(i))
        | SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(start_token AS BIGINT) AS start_token,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        | FROM c ORDER BY doc_id, chunk_idx""".stripMargin
        .replaceAll("\n", " "),
    "q133_term_drift" ->
      """WITH ta AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '' AND source = 'src1'),
        | tb AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '' AND source <> 'src1'),
        | ca AS (SELECT term, count(*) AS cnt_a FROM ta GROUP BY 1),
        | cb AS (SELECT term, count(*) AS cnt_b FROM tb GROUP BY 1),
        | j AS (SELECT coalesce(ca.term, cb.term) AS term,
        |   coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
        | t AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM j),
        | e AS (SELECT term, cnt_a, cnt_b,
        |   CAST(cnt_a AS DOUBLE)/CAST(t.tot_a AS DOUBLE) AS pa,
        |   CAST(cnt_b AS DOUBLE)/CAST(t.tot_b AS DOUBLE) AS pb
        |  FROM j CROSS JOIN t)
        | SELECT term, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
        |  round(pa, 8) AS p_a, round(pb, 8) AS p_b,
        |  round((CASE WHEN pa > 0 THEN pa*log2(pa/((pa+pb)/2))/2 ELSE 0 END) +
        |        (CASE WHEN pb > 0 THEN pb*log2(pb/((pa+pb)/2))/2 ELSE 0 END), 9) AS js_contrib
        | FROM e WHERE cnt_a + cnt_b >= 25 ORDER BY term""".stripMargin
        .replaceAll("\n", " "),
    "q119_ngram_table" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | g AS (
        |  SELECT 1 AS ord, unnest(w) AS gram FROM t
        |  UNION ALL
        |  SELECT 2, unnest(list_transform(generate_series(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1])) FROM t WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT 3, unnest(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) FROM t WHERE len(w) >= 3),
        | c AS (SELECT ord, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        | r AS (SELECT ord, gram, cnt, row_number() OVER
        |   (PARTITION BY ord ORDER BY cnt DESC, gram ASC) AS "rank" FROM c)
        | SELECT CAST(ord AS BIGINT) AS ord, gram, cnt, "rank"
        | FROM r WHERE "rank" <= 20 ORDER BY ord, "rank"""".stripMargin
        .replaceAll("\n", " "),
    "q120_hard_negatives" ->
      s"""WITH sc AS (
         | SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id, $cosSql AS cosine
         | FROM embeddings a JOIN embeddings b
         |   ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
         | r AS (SELECT anchor_id, negative_id, cosine, row_number() OVER
         |   (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id ASC) AS "rank"
         |  FROM sc WHERE cosine < 0.95)
         | SELECT anchor_id, negative_id, round(cosine, 6) AS cosine, "rank"
         | FROM r WHERE "rank" <= 5 ORDER BY anchor_id, "rank"""".stripMargin
        .replaceAll("\n", " "),
    "q121_warc_roundtrip" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 23 = 0 THEN text || chr(13) || chr(10) || 'WARC/1.0'
        |    || chr(13) || chr(10) || 'Content-Length: 999999'
        |    || chr(13) || chr(10) || chr(13) || chr(10)
        |   ELSE text END AS payload
        | FROM documents WHERE text IS NOT NULL)
        | SELECT doc_id,
        |  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |  CAST(octet_length(encode(payload)) AS BIGINT) AS content_length,
        |  md5(payload) AS payload_md5
        | FROM d ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q122_quality_model" -> {
      val f =
        s"""SELECT CASE WHEN lang='en' THEN 1.0 ELSE 0.0 END AS y, 1.0 AS f0,
           | ln(1 + (CASE WHEN trim(text)='' THEN 0
           |   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)) AS f1,
           | ${ratioSql("[^A-Za-z0-9\\s]")} AS f2,
           | ${ratioSql("[0-9]")} AS f3,
           | ${ratioSql("[A-Z]")} AS f4
           | FROM documents WHERE text IS NOT NULL""".stripMargin
      val wStep = (prev: String, grad: String) =>
        (0 until 5).map(j => s"$prev.c$j-0.5*$grad.g$j AS c$j")
          .mkString("SELECT ", ", ", s" FROM $prev, $grad")
      s"""WITH f AS ($f),
         | g1 AS (${gAvg("f", "0.5-y")}),
         | w1 AS (${(0 until 5).map(j => s"0.0-0.5*g$j AS c$j").mkString("SELECT ", ", ", " FROM g1")}),
         | g2 AS (${gAvg("f, w1", s"1/(1+exp(-(${margin("w1")})))-y")}),
         | w2 AS (${wStep("w1", "g2")}),
         | g3 AS (${gAvg("f, w2", s"1/(1+exp(-(${margin("w2")})))-y")}),
         | w3 AS (${wStep("w2", "g3")}),
         | sc AS (SELECT y, 1/(1+exp(-(${margin("w3")}))) AS p FROM f, w3),
         | agg AS (SELECT count(*) AS n_docs,
         |   sum(CASE WHEN (CASE WHEN p > 0.5 THEN 1.0 ELSE 0.0 END) = y
         |       THEN 1 ELSE 0 END) AS n_correct,
         |   avg(-(y*ln(p)+(1-y)*ln(1-p))) AS mean_nll FROM sc)
         | SELECT agg.n_docs,
         |  ${(0 until 5).map(j => s"round(w3.c$j, 6) AS w$j").mkString(", ")},
         |  CAST(agg.n_correct AS BIGINT) AS n_correct,
         |  round(agg.mean_nll, 6) AS mean_nll
         | FROM agg, w3""".stripMargin.replaceAll("\n", " ")
    },
    "q126_warc_gzip" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 23 = 0 THEN text || chr(13) || chr(10) || 'WARC/1.0'
        |    || chr(13) || chr(10) || 'Content-Length: 999999'
        |    || chr(13) || chr(10) || chr(13) || chr(10)
        |   ELSE text END AS payload
        | FROM documents WHERE text IS NOT NULL)
        | SELECT doc_id,
        |  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |  CAST(octet_length(encode(payload)) AS BIGINT) AS content_length,
        |  md5(payload) AS payload_md5
        | FROM d ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q127_html_extract" ->
      """WITH m AS (SELECT doc_id,
        |  (CASE WHEN doc_id%3=0 THEN '  A&B <tag> x  ' || chr(10) || chr(10) || '  ' ELSE '' END)
        |  || text ||
        |  (CASE WHEN doc_id%4=0 THEN chr(10) || ' line2  with   spaces ' || chr(10) || chr(9) || 'line3 > 5 ' ELSE '' END) AS messy
        | FROM documents WHERE text IS NOT NULL),
        | n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |   messy, '[ \t\r]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n+', chr(10), 'g')) AS norm
        | FROM m)
        | SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR)
        |  || (CASE WHEN norm = '' THEN '' ELSE chr(10) || norm END)
        |  || chr(10) || 'f&oo <b> ' || chr(8212) || ' ' || chr(8212) || ' tail' AS extracted
        | FROM n ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q125_mixture_allocation" ->
      """WITH av AS (SELECT source AS stratum,
        |   CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
        |     AS n_avail
        |  FROM documents GROUP BY 1),
        | w(stratum, weight) AS (VALUES ('src1', CAST(0.5 AS DOUBLE)),
        |   ('src2', CAST(0.3 AS DOUBLE)), ('src5', CAST(0.2 AS DOUBLE))),
        | j AS (SELECT w.stratum, coalesce(av.n_avail, 0) AS n_avail, w.weight
        |       FROM w LEFT JOIN av USING (stratum)),
        | t AS (SELECT least(6000.0, min(CAST(n_avail AS DOUBLE)/weight)) AS tstar
        |       FROM j)
        | SELECT j.stratum, j.n_avail, round(j.weight, 6) AS weight,
        |   CAST(floor(j.weight * t.tstar) AS BIGINT) AS n_take,
        |   round(CASE WHEN j.n_avail > 0
        |     THEN CAST(floor(j.weight * t.tstar) AS BIGINT) / j.n_avail
        |     ELSE 0.0 END, 6) AS fraction
        | FROM j, t ORDER BY j.stratum""".stripMargin.replaceAll("\n", " ")
  )
}
