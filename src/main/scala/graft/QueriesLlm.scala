package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import EntryHelpers._
import Inputs.scratchDir

/** LLM-data-pipeline query registry (SURVEY §2.12: dedup, ANN tiers, PCA, sketches, graphs, sampling, text analysis, multimodal). */
private[graft] object QueriesLlm {

  def registry: Map[String, Timed] = Map(


    // ---- LLM training-data pipeline operators (documents/embeddings) ----

    // Exact content dedup: hash-groupBy on full text, canonical = min id.
    "llm_exact_dedup" -> scaled((s, dir) => {
      val w = Window.partitionBy(col("content_key"))
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("content_key"))
        .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
    }),

    // MinHash + banded LSH near-dup pairs with exact-Jaccard verification:
    // candidates only ever come from shared (band, key) buckets — the
    // all-pairs comparison that kills 100 TB runs never happens.
    "llm_minhash_neardup" -> scaled((s, dir) => {
      llm.TextOps.minhashNearDups(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
    }),

    // MinHash BANDING recall gate — the dedup-family analogue of the ANN
    // recall rows: candidates are exact-verified, so precision is 1.0 by
    // construction and the only loss channel is a true near-dup pair
    // whose signatures never collide in any band. Truth = brute exact
    // Jaccard over a FIXED-COUNT hash-order query sample × corpus — the
    // production recall-audit shape: 64 sample docs regardless of corpus
    // size, so the truth side is O(64·corpus) and the broadcast(sample)
    // is constant-size at any scale (TakeOrderedAndProject picks the
    // sample without a global sort). Recall = banded pairs touching the
    // sample / true pairs touching the sample.
    "llm_minhash_recall" -> scaled((s, dir) => {
      val thr = 0.5
      val ws = t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .filter(size(col("ws")) >= 3)
        .withColumn("shingles", llm.TextOps.shingles(3))
      val sample = ws
        .select(col("doc_id").as("qa"), col("shingles").as("sh_a"))
        .orderBy(llm.TextOps.h64c(col("qa").cast("string")), col("qa"))
        .limit(64)
        .localCheckpoint() // read by the truth join AND both semi-joins
      val corpus = ws.select(col("doc_id").as("qb"), col("shingles").as("sh_b"))
      // lossless length-ratio prune before the intersect: J ≥ 0.5 forces
      // min(|A|,|B|) ≥ max(|A|,|B|)/2, so pairs outside 2× never qualify
      val truth = corpus.join(broadcast(sample), col("qa") =!= col("qb") &&
          size(col("sh_b")) * 2 >= size(col("sh_a")) &&
          size(col("sh_b")) <= size(col("sh_a")) * 2)
        .filter(llm.TextOps.jaccardSets(col("sh_a"), col("sh_b")) >= thr)
        .select(least(col("qa"), col("qb")).as("qid"),
          greatest(col("qa"), col("qb")).as("nid"))
        .distinct()
      val sampleIds = sample.select(col("qa").as("sid"))
      // NOT persisted (r18 A/B): caching the pair list looked like the
      // standard dedupe-the-double-reference win, but the two endpoint
      // semi-joins push the 64-doc sample restriction INTO the lazy LSH
      // pipeline — each branch computes a sample-pruned pipeline, which
      // is cheaper than materializing the full corpus pair list once
      // (warm reps 4.3/3.9 s lazy vs 5.2/5.6 s persisted)
      val found0 = llm.TextOps.minhashNearDups(
        t(s, dir, "documents"), "doc_id", "text", threshold = thr)
      val found = found0
        .join(broadcast(sampleIds), col("id_a") === col("sid"), "left_semi")
        .unionByName(found0
          .join(broadcast(sampleIds), col("id_b") === col("sid"), "left_semi"))
        .distinct()
        .select(col("id_a").as("qid"), col("id_b").as("nid"))
      llm.Ann.recallAtK("minhash_bands", truth, found)
    }),

    // SimHash hamming near-dup pairs: Charikar 4×15-bit block scheme over
    // 60-bit fingerprints, radius 3 — pigeonhole makes the block join
    // LOSSLESS at this radius, so the oracle replays brute all-pairs and
    // the decomposition must equal it exactly.
    "llm_simhash_neardup" -> scaled((s, dir) => {
      llm.TextOps.simhashNearDups(t(s, dir, "documents"), "doc_id", "text")
    }),

    // SimHash document fingerprint (32-bit, +1/-1 bit votes over shingles).
    "llm_simhash" -> scaled((s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("shingles", llm.TextOps.shingles(3))
        .withColumn("shash", llm.TextOps.shingleHashes)
        .select(col("doc_id"), llm.TextOps.simhash(32).as("simhash"))
    }),

    // n-gram Jaccard near-dup within (lang, source) blocks — the blocked
    // brute-force tier, with a block-size cap: blocks over the cap are
    // routed through the MinHash-LSH path so no single giant block can
    // make the pair join quadratic at scale. (At this sf every block is
    // under the cap, so the result is the exact brute-force answer.)
    "llm_ngram_jaccard" -> scaled((s, dir) => {
      llm.TextOps.blockedNgramJaccard(
        t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq("lang", "source"), threshold = 0.5)
    }),

    // Token counts, quality score, rolling fingerprint, content key.
    "llm_text_stats" -> scaled((s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("shingles", llm.TextOps.shingles(3))
        .withColumn("shash", llm.TextOps.shingleHashes)
        .select(Seq(col("doc_id")) ++ llm.TextOps.tokenCounts ++ Seq(
          llm.TextOps.qualityScore.as("quality"),
          array_min(col("shash")).as("fingerprint"),
          md5(col("text")).as("content_key")): _*)
    }),

    // Exact top-20% quality cut: threshold = k-th largest micro-quantized
    // quality score read off a bounded histogram (no global sort; ties at
    // the threshold kept — the cut is a pure function of the score).
    "llm_quality_cut" -> scaled((s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("q", llm.TextOps.qualityScore)
      llm.Sampling.qualityCut(scored, "doc_id", "q", pct = 20)
    }),

    // Language-ID heuristic: stopword hit counts + argmax guess.
    "llm_langid" -> scaled((s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .select(Seq(col("doc_id")) ++ llm.TextOps.langIdColumns: _*)
        .withColumn("pred_lang", llm.TextOps.predictedLang)
    }),

    // Unicode SCRIPT detection — the orthographic signal the stopword
    // langid can't see (it only separates Latin-script languages): per-doc
    // codepoint counts over the major script blocks + dominant-script
    // verdict. Fixture salts in pure-Cyrillic/CJK/Arabic docs and Greek
    // tails so every branch and the tie-break get real work.
    "llm_script_detect" -> scaled((s, dir) => {
      val salted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          lit("привет мир это документ на русском языке"))
          .when(col("doc_id") % 13 === 0, lit("你好世界这是一份中文文档测试"))
          .when(col("doc_id") % 17 === 0, lit("مرحبا بالعالم هذا نص عربي"))
          .otherwise(concat(col("text"),
            when(col("doc_id") % 5 === 0, lit(" αβγδε")).otherwise(lit(""))))
          .as("t2"))
      salted.select(Seq(col("doc_id")) ++ llm.TextOps.scriptColumns("t2"): _*)
        .withColumn("script", llm.TextOps.dominantScript)
    }),

    // Brute-force cosine top-3 (integer-quantized → bit-exact ranking).
    "llm_ann_topk" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("vq"), col("norm2"))
      val c = e.select(col("vec_id").as("nid"), col("vq"), col("norm2"))
      llm.Ann.bruteTopK(q, c, 3)
    }),

    // LSH-bucketed ANN: difference-hyperplane sign bucket, top-3 within
    // the query's bucket.
    "llm_ann_lsh" -> scaled((s, dir) => {
      val e = llm.Ann.withBucket(
        llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding"),
        llm.Ann.DefaultPairs)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("vq"), col("norm2"), col("bucket"))
      val c = e.select(col("vec_id").as("nid"), col("vq"), col("norm2"),
        col("bucket"))
      llm.Ann.lshTopK(q, c, 3)
    }),

    // IVF-partitioned ANN: TRAINED coarse quantizer — deterministic
    // spherical k-means (seed = vec_id%25, 2 iterations, integer centroid
    // components so the oracle reproduces training) — one-cell corpus
    // assignment, 2-probe queries, exact re-rank within probed cells.
    "llm_ann_ivf" -> scaled((s, dir) => {
      // standing-index probe: shared coarse quantizer + prebuilt cell
      // assignment (identical deterministic training → same oracle)
      val idx = sharedAnnIndex(s, dir)
      llm.Ann.ivfTopK(annQueries(s, dir), annCorpus(s, dir), idx.coarse,
        idx.cells, k = 3, nProbe = 2)
    }),

    // IVF × SQ8 composition: coarse cells prune (2-probe), SQ8
    // reconstructions rank within probed cells — the compute cut and the
    // memory cut stacked, proving the composition the SQ docs claim.
    // Standing-index form: bounds/codes come off the LOADED shared SQ
    // index, cells off the shared IVF index — nothing trains in-query.
    "llm_ivf_sq_search" -> scaled((s, dir) => {
      val idx = sharedAnnIndex(s, dir)
      llm.Ann.ivfSqSearch(annQueries(s, dir), sharedSqIndex(s, dir),
        idx.coarse, idx.cells, k = 3, nProbe = 2)
    }),

    // Recall gate for the composed path: what cell pruning AND 8-bit
    // reconstruction together cost vs brute truth.
    "llm_ivf_sq_recall" -> fixture((s, dir) => {
      val idx = sharedAnnIndex(s, dir)
      val queries = annQueries(s, dir)
      val corpus = annCorpus(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      llm.Ann.recallAtK("ivf_sq", truth,
        llm.Ann.ivfSqSearch(queries, corpus, idx.coarse, idx.cells,
          k = 3, nProbe = 2))
    }),

    // Filtered ANN (hybrid search): top-3 cosine neighbors restricted to
    // a METADATA predicate — "nearest docs from these sources only", the
    // retrieval-with-filters shape every RAG/curation stack needs. The
    // predicate semi-joins the corpus BEFORE the similarity join, so
    // search cost scales with the filtered subset, not the corpus; at
    // 100 TB the filter would prune source-partitioned parquet before a
    // single dot product runs.
    "llm_ann_filtered" -> scaled((s, dir) => {
      val allowed = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1", "src2", "src3"))
        .select(col("doc_id").as("nid"))
      val corpus = annCorpus(s, dir).join(allowed, Seq("nid"), "left_semi")
      llm.Ann.bruteTopK(annQueries(s, dir), corpus, 3)
    }),

    // ANN recall gate: recall@3 of the LSH and trained-IVF paths against
    // brute-force ground truth on the same queries — the measurement that
    // keeps bucket/probe tuning honest. Exact integer hit counting.
    "llm_ann_recall" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
      val corpus = e.select(col("vec_id").as("nid"), col("vq"), col("norm2"))
      val queries = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("vq"), col("norm2"))
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      val eb = llm.Ann.withBucket(e, llm.Ann.DefaultPairs)
      val lq = eb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("vq"), col("norm2"), col("bucket"))
      val lc = eb.select(col("vec_id").as("nid"), col("vq"), col("norm2"), col("bucket"))
      val lsh = llm.Ann.lshTopK(lq, lc, 3)
      val lshMp = llm.Ann.lshMultiProbeTopK(lq, lc, 3, bits = 6)
      // ivf branch probes the shared prebuilt index (same training)
      val idx = sharedAnnIndex(s, dir)
      val ivf = llm.Ann.ivfTopK(queries, corpus, idx.coarse, idx.cells,
        k = 3, nProbe = 2)
      llm.Ann.recallAtK("lsh", truth, lsh)
        .unionByName(llm.Ann.recallAtK("lsh_multiprobe", truth, lshMp))
        .unionByName(llm.Ann.recallAtK("ivf", truth, ivf))
    }),

    // One-time ANN index build — the BUILD stage of the production
    // build-once/probe-many lifecycle: train the coarse quantizer
    // (k-means step=25/iters=2) + both PQ subspace codebooks, encode the
    // corpus, persist everything to parquet keyed by a corpus
    // fingerprint. Every IVF/IVF-PQ gate row below LOADS this index
    // instead of retraining in-query. Emits per-component row counts;
    // the oracle replays both trainings and re-derives the same counts.
    "llm_ann_index_build" -> scaled((s, dir) => {
      val path = buildSharedAnnIndex(s, dir)
      val idx = llm.Ann.IvfPqIndex.load(s, path)
      Seq(
        ("book0", idx.pq.book0), ("book1", idx.pq.book1),
        ("cells", idx.cells), ("coarse", idx.coarse),
        ("codes", idx.pq.codes))
        .map { case (name, df) =>
          df.agg(count(lit(1)).cast("long").as("n_rows"))
            .select(lit(name).as("component"), col("n_rows"))
        }
        .reduce(_ unionByName _)
    }),

    // IVF probe-sweep recall curve: recall@3 at nProbe ∈ {1,2,4} against
    // brute truth — the recall-vs-cost curve a production deployment
    // tunes nProbe with (each probe step costs corpus/nCells more
    // candidates per query). Centroids AND corpus cell assignment come
    // off the prebuilt index (build-once/probe-many); training is
    // deterministic, so the loaded index equals the oracle's replay.
    "llm_ivf_probe_curve" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      val idx = sharedAnnIndex(s, dir)
      Seq(1, 2, 4).map { p =>
        llm.Ann.recallAtK(s"ivf_p$p", truth,
          llm.Ann.ivfTopK(queries, corpus, idx.coarse, idx.cells,
            k = 3, nProbe = p))
      }.reduce(_ unionByName _)
    }),

    // IVF index statistics: per-cell population of the trained coarse
    // quantizer — the measurable form of the "trained cells stay
    // balanced" claim every IVF probe-cost estimate rests on. Reads the
    // prebuilt index's cell assignment (one partial-agg count per cell);
    // the spec pins a max/mean ceiling.
    "llm_ivf_stats" -> scaled((s, dir) => {
      sharedAnnIndex(s, dir).cells
        .groupBy(col("cell")).agg(count(lit(1)).cast("long").as("n_vectors"))
        .select(col("cell"), col("n_vectors"))
    }),

    // Standing-index DRIFT GATE report: every frozen training artifact
    // (IVF centroids, SQ bounds, PQ codebooks, BM25 vocabulary) measured
    // against a deliberately SHIFTED out-of-sample batch (vq → 3·vq + 41
    // for vec_id % 7 == 0; reversed-token documents for doc_id % 53 ==
    // 0) — the retrain-now telemetry of the build-once lifecycle. All
    // metrics are exact integers (basis points / micro-cosine) off the
    // same standing-index assignment/encode paths the probes use; the
    // DriftSpec pins that an iid batch does NOT trip the gate while this
    // shifted batch does.
    "llm_index_drift" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val batch = corpus.filter(col("nid") % 7 === 0)
        .select(col("nid"), expr("transform(vq, v -> v * 3 + 41)").as("vq"))
        .withColumn("norm2", expr("aggregate(vq, 0L, (acc, v) -> acc + v * v)"))
      val docsBatch = t(s, dir, "documents").filter(col("doc_id") % 53 === 0)
        .select(expr("array_join(transform(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), w -> reverse(w)), ' ')").as("text"))
      llm.Drift.report(sharedAnnIndex(s, dir), sharedSqIndex(s, dir),
        sharedInvIndex(s, dir), corpus, batch, docsBatch, "text")
    }),

    // Embedding-cosine near-dup pairs blocked by label.
    "llm_embed_neardup" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
        .withColumnRenamed("vec_id", "id")
      llm.Ann.nearDupPairs(e, "id", "label", 0.45)
    }),

    // Multimodal plumbing: binary payload + typed metadata → batched
    // decode-stub features, resize metadata, frame-sample counts.
    // Real JDK image decode: synthetic PNGs generated executor-side with
    // LYING metadata (0×0), decoded back via ImageIO — dimensions and the
    // pixel-sum feature must come off the raster; a garbage payload takes
    // the decoded=false sentinel path instead of killing the partition.
    "llm_image_decode" -> fixture((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val pngs = s.range(1, 5).map { id =>
        MediaItem(id, "image/png",
          llm.Multimodal.syntheticPng(id, 16 + id.toInt * 3, 16 + id.toInt * 2),
          MediaMeta(0, 0, 0L, "png"))
      }
      val junk = s.range(99, 100).map { id =>
        MediaItem(id, "image/png", "not an image".getBytes("UTF-8"),
          MediaMeta(0, 0, 0L, "png"))
      }
      llm.Multimodal.decodeImage(pngs.union(junk)).toDF()
        .select(col("mediaId").as("media_id"), col("decoded"),
          col("width"), col("height"), col("pixelSum").as("pixel_sum"))
    }),

    // Real JDK audio decode: synthetic 16-bit PCM WAVs (one stereo)
    // generated executor-side, decoded back via AudioSystem — format
    // fields and the Σ sample² energy feature must come off the decoded
    // PCM frames; a garbage payload takes the decoded=false sentinel.
    "llm_audio_decode" -> fixture((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val wavs = s.range(1, 4).map { id =>
        MediaItem(id, "audio/wav",
          llm.Multimodal.syntheticWav(id, 500 + 101 * id.toInt),
          MediaMeta(0, 0, 0L, "wav"))
      }
      val stereo = s.range(4, 5).map { id =>
        MediaItem(id, "audio/wav",
          llm.Multimodal.syntheticWav(id, 800, channels = 2),
          MediaMeta(0, 0, 0L, "wav"))
      }
      val junk = s.range(99, 100).map { id =>
        MediaItem(id, "audio/wav", "not audio at all".getBytes("UTF-8"),
          MediaMeta(0, 0, 0L, "wav"))
      }
      llm.Multimodal.decodeAudio(wavs.union(stereo).union(junk)).toDF()
        .select(col("mediaId").as("media_id"), col("decoded"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nSamples").as("n_samples"), col("sumSq").as("sum_sq"))
    }),

    // G.711 companded audio (µ-law + A-law — the one compressed-audio
    // family the JDK ships codecs for): the same deterministic PCM
    // pattern companded to 8-bit telephony WAVs, transcoded back to
    // 16-bit PCM inside decodeAudio. G.711 is lossy but table-driven, so
    // the oracle recomputes the exact compand→expand round trip per
    // sample in SQL (verified against the JDK codec sample-by-sample) —
    // a real independent oracle, not a pinned constant.
    "llm_audio_g711" -> fixture((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val ulaw = s.range(1, 4).map { id =>
        MediaItem(id, "audio/wav",
          llm.Multimodal.syntheticWavCompanded(id, 500 + 101 * id.toInt),
          MediaMeta(0, 0, 0L, "ulaw"))
      }
      val alaw = s.range(11, 14).map { id =>
        MediaItem(id, "audio/wav",
          llm.Multimodal.syntheticWavCompanded(id - 10,
            500 + 101 * (id.toInt - 10), alaw = true),
          MediaMeta(0, 0, 0L, "alaw"))
      }
      val junk = s.range(99, 100).map { id =>
        MediaItem(id, "audio/wav", "not audio".getBytes("UTF-8"),
          MediaMeta(0, 0, 0L, "ulaw"))
      }
      llm.Multimodal.decodeAudio(ulaw.union(alaw).union(junk)).toDF()
        .select(col("mediaId").as("media_id"),
          when(col("mediaId") < 10, lit("ulaw"))
            .when(col("mediaId") < 90, lit("alaw"))
            .otherwise(lit("junk")).as("codec"),
          col("decoded"), col("sampleRate").as("sample_rate"),
          col("channels"), col("nSamples").as("n_samples"),
          col("sumSq").as("sum_sq"))
    }),

    // IMA ADPCM (WAVE tag 0x11) — the third real compressed-audio family,
    // decoded by the hand-rolled two-table state machine (the JDK ships
    // no ADPCM codec): single-block files whose header predictor, step
    // index and nibble stream are pure formulas, so the oracle replays
    // the IMA recursion sample-by-sample. A truncated-RIFF payload takes
    // the sentinel.
    "llm_audio_adpcm" -> fixture((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val adpcm = s.range(1, 4).map { id =>
        MediaItem(id, "audio/wav",
          llm.Multimodal.syntheticWavAdpcm(id, 400 + 37 * id.toInt),
          MediaMeta(0, 0, 0L, "adpcm"))
      }
      // stereo blocks: two per-channel headers + word-interleaved nibble
      // streams the decoder must de-interleave back to the per-channel
      // formulas the oracle recursion replays
      val stereo = s.range(11, 14).map { id =>
        MediaItem(id, "audio/wav",
          llm.Multimodal.syntheticWavAdpcmStereo(id, 300 + 41 * (id.toInt - 10)),
          MediaMeta(0, 0, 0L, "adpcm"))
      }
      val junk = s.range(99, 100).map { id =>
        MediaItem(id, "audio/wav", "RIFFjunkWAVEnope".getBytes("UTF-8"),
          MediaMeta(0, 0, 0L, "adpcm"))
      }
      llm.Multimodal.decodeAudio(adpcm.union(stereo).union(junk)).toDF()
        .select(col("mediaId").as("media_id"), col("decoded"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nSamples").as("n_samples"), col("sumSq").as("sum_sq"))
    }),

    // REAL video frame decode: MJPEG-in-AVI built + decoded with
    // JDK-only code (RIFF chunk walk, per-frame ImageIO JPEG inflate).
    // Frame count and raster dims are codec-exact; the raw decoded
    // pixel sum is emitted as-is and the oracle pins the GOLDEN sums
    // (655713 / 1424018 / 2709614) measured once on this JDK's ImageIO
    // (decode is deterministic for a fixed JDK) — a silent decoder
    // change now fails the hash instead of drifting inside a tolerance
    // band. The lossless pattern sums (655200 / 1425408 / 2711520) sit
    // within 0.1% of the pinned decoded values, bounding the JPEG
    // round-trip error; the spec keeps the decoder-portable 1% check.
    "llm_video_frames" -> fixture((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val avis = s.range(1, 4).map { id =>
        MediaItem(id, "video/x-msvideo",
          llm.Multimodal.syntheticAvi(id, 32 + id.toInt * 8, 24 + id.toInt * 4,
            2 + id.toInt),
          MediaMeta(0, 0, 0L, "mjpeg"))
      }
      val junk = s.range(99, 100).map { id =>
        MediaItem(id, "video/x-msvideo", "not a video".getBytes("UTF-8"),
          MediaMeta(0, 0, 0L, "mjpeg"))
      }
      llm.Multimodal.decodeVideoFrames(avis.union(junk)).toDF()
        .select(col("mediaId").as("media_id"), col("decoded"),
          col("nFrames").as("n_frames"), col("width"), col("height"),
          col("pixelSum").as("pixel_sum"))
    }),

    // REAL raster resize: same synthetic PNGs as llm_image_decode,
    // nearest-neighbor downscale in exact integer index math — the oracle
    // re-derives the resized pixel sum arithmetically from the pattern.
    "llm_image_resize" -> fixture((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val pngs = s.range(1, 5).map { id =>
        MediaItem(id, "image/png",
          llm.Multimodal.syntheticPng(id, 16 + id.toInt * 3, 16 + id.toInt * 2),
          MediaMeta(0, 0, 0L, "png"))
      }
      val junk = s.range(99, 100).map { id =>
        MediaItem(id, "image/png", "not an image".getBytes("UTF-8"),
          MediaMeta(0, 0, 0L, "png"))
      }
      llm.Multimodal.resizeImage(pngs.union(junk), maxDim = 12).toDF()
        .select(col("mediaId").as("media_id"), col("decoded"),
          col("inWidth").as("in_width"), col("inHeight").as("in_height"),
          col("outWidth").as("out_width"), col("outHeight").as("out_height"),
          col("outPixelSum").as("out_pixel_sum"))
    }),

    "llm_multimodal" -> scaled((s, dir) => {
      val items = llm.Multimodal.fromDocuments(s, t(s, dir, "documents"))
      val feats = llm.Multimodal.decodeStub(items).toDF()
      val resized = llm.Multimodal.resizeMeta(items.toDF(), 256)
        .select(col("mediaId"), col("out_width"), col("out_height"))
      val frames = llm.Multimodal.sampleFrames(items.toDF(), 1000)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
      feats.join(resized, Seq("mediaId"))
        .join(frames, feats("mediaId") === frames("media_id"))
        .select(col("media_id"), col("kind"), col("nBytes").as("n_bytes"),
          col("contentMd5").as("content_md5"), col("head8Hex").as("head8_hex"),
          col("out_width"), col("out_height"), col("n_frames"))
    }),

    // Dedup-cluster formation: near-dup similarity is NOT transitive, so
    // the keep/drop decision needs connected components over the pair
    // list — min-label propagation + pointer jumping (O(log d) rounds,
    // lineage-truncated per round). Every document gets a cluster;
    // the min doc id is canonical, matching the exact-dedup rule.
    "llm_dedup_clusters" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = llm.TextOps.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5)
      llm.Clusters.dedupClusters(docs.select(col("doc_id")), "doc_id",
        pairs, "id_a", "id_b")
    }),

    // Gopher-style repetition/composition signals + keep decision (Rae et
    // al. 2021 appendix A1.1) — pure column expressions; the word, line
    // and bigram arrays are bound once per row.
    "llm_quality_gopher" -> scaled((s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("lines", llm.TextOps.docLines)
        .withColumn("g2", llm.TextOps.wordBigrams)
        .select(Seq(col("doc_id"), col("text"), col("ws")) ++
          llm.TextOps.repetitionColumns: _*)
        .withColumn("gopher_keep", llm.TextOps.gopherKeep)
        .drop("text", "ws")
    }),

    // PII detection + redaction. The corpus is synthetic prose, so each
    // row is salted with a deterministic email/phone/IP derived from its
    // id — the scrub then has real work to do and the oracle re-derives
    // the identical salted text.
    "llm_pii_scrub" -> scaled((s, dir) => {
      val salted = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com call +1 555 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0.0."), (col("doc_id") % 250).cast("string")))
      salted.select(Seq(col("doc_id")) ++ llm.TextOps.piiCounts("text2") ++
        Seq(llm.TextOps.scrubPii(col("text2")).as("scrubbed")): _*)
    }),

    // Deterministic stratified sampling: membership is a pure function of
    // the doc id (md5 bucket), so the sample reproduces under any
    // partitioning/engine — downsample dominant-language text, keep the
    // rest at higher rates. Narrow map-side predicate + broadcast rates.
    "llm_hash_sample" -> scaled((s, dir) => {
      llm.Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 10, "fr" -> 100), defaultPct = 40)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Incremental dedup: a "new batch" (doc_id % 5 = 0) admitted against
    // the existing corpus — exact content-hash tier + LSH band-index
    // probe tier with exact-Jaccard verification. The corpus contributes
    // only its (id, band, key) index to the join; O(batch) per ingest.
    "llm_incremental_dedup" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.TextOps.incrementalDedup(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
    }),

    // Domain mixing: resample sources toward target token shares (src0
    // oversampled to 50% of budget, src1 to 20%, the rest share the
    // default) — rates derived from the data's own token sums, membership
    // a pure id-hash function, all integer arithmetic.
    "llm_domain_mix" -> scaled((s, dir) => {
      llm.Sampling.domainMix(t(s, dir, "documents"), "doc_id", "text",
        "source", Map("src0" -> 5000L, "src1" -> 2000L), defaultBp = 100L)
    }),

    // Temperature-scaled mixing (α = 0.5): target shares derived from the
    // data itself — share ∝ √tokens, damping token-rich heads and lifting
    // tails. The input is deliberately SKEWED (src0/src1 keep all docs,
    // other sources only every 3rd) so the √-damping has real work; with
    // the uniform synthetic corpus it would be a no-op.
    "llm_domain_mix_temp" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0 || col("source").isin("src0", "src1"))
      llm.Sampling.domainMixTemperature(docs, "doc_id", "text", "source")
    }),

    // Corpus vocabulary census: top-100 terms by global frequency with
    // per-term document frequency — distributed top-k over a Zipf
    // distribution (partial aggs absorb the head; no global sort).
    "llm_vocab_census" -> scaled((s, dir) => {
      llm.TextOps.vocabCensus(t(s, dir, "documents"), "doc_id", "text", 100)
    }),

    // Sequence packing (concat-and-chunk): docs stream in id order within
    // hash groups (count derived from corpus size; 32 at this sf), chunked
    // into 512-token blocks; each doc reports the block span it occupies.
    // Integer-exact layout.
    "llm_seq_pack" -> scaled((s, dir) => {
      llm.TextOps.seqPack(t(s, dir, "documents"), "doc_id", "text",
        budget = 512L)
    }),

    // Corpus-level line dedup (C4/Gopher boilerplate removal): lines in
    // >= 10 distinct docs are boilerplate, removed per-doc with order
    // preserved. The synthetic corpus shares no natural lines, so
    // deterministic boilerplate footers are salted in (every 3rd doc a
    // newsletter line, every 7th a copyright line) and the oracle
    // re-derives the identical salt.
    "llm_line_dedup" -> scaled((s, dir) => {
      val salted = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nall rights reserved by example corp")).otherwise(lit(""))))
      llm.TextOps.lineDedup(salted, "doc_id", "text2", minDocs = 10L)
    }),

    // Benchmark decontamination: training docs sharing any word-8-gram
    // with the eval split (doc_id%100=0) are flagged. Every 20th training
    // doc is salted with the first 12 words of one eval doc — a real
    // leak the oracle reproduces.
    "llm_decontaminate" -> scaled((s, dir) => {
      val (train, evalSet) = contaminationFixture(s, dir, leakMods = Seq(1))
      llm.TextOps.contaminationFlags(train, evalSet, "doc_id", "text2", k = 8)
    }),

    // The INVERSE contamination view: per EVAL doc, how much of it leaked
    // into training (hit grams / total grams, distinct leaking train
    // docs) — the "which benchmarks are burned" audit table, over TWO
    // independent benchmark families: family A (docs %100==0, head snips,
    // leak stripes %20∈{1,7} keyed doc_id%5 — the llm_decontaminate
    // fixture shape) and family B (docs %100==50, snips from word 3,
    // leak stripe %20==13 keyed (doc_id+2)%5). Disjoint leak residues →
    // a train doc carries at most one family's snip; the report runs
    // over the UNION and tags each eval row with its benchmark source,
    // so the per-eval breakdown is proven on ≥2 distinct suites at once
    // (burned and clean rows in both).
    "llm_contamination_report" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalA = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id"), col("text").as("text2"))
      val evalB = docs.filter(col("doc_id") % 100 === 50)
        .select(col("doc_id"), col("text").as("text2"))
      val snipsA = evalA.select((col("doc_id") / 100).cast("long").as("refA"),
        expr("array_join(slice(split(lower(text2), ' '), 1, 12), ' ')").as("snipA"))
      val snipsB = evalB.select((col("doc_id") / 100).cast("long").as("refB"),
        expr("array_join(slice(split(lower(text2), ' '), 3, 12), ' ')").as("snipB"))
      val train = docs
        .filter(col("doc_id") % 100 =!= 0 && col("doc_id") % 100 =!= 50)
        .withColumn("refA", col("doc_id") % 5)
        .withColumn("refB", (col("doc_id") + 2) % 5)
        .join(broadcast(snipsA), Seq("refA"))
        .join(broadcast(snipsB), Seq("refB"))
        .withColumn("text2",
          when(col("doc_id") % 20 === 1 || col("doc_id") % 20 === 7,
            concat(col("text"), lit(" "), col("snipA")))
            .when(col("doc_id") % 20 === 13,
              concat(col("text"), lit(" "), col("snipB")))
            .otherwise(col("text")))
      llm.TextOps.contaminationReport(train, evalA.unionByName(evalB),
          "doc_id", "text2", k = 8)
        .withColumn("benchmark",
          when(col("eval_id") % 100 === 0, lit("benchA")).otherwise(lit("benchB")))
    }),

    // Corpus snapshot diff — before retraining on a refreshed crawl:
    // what entered, what left, what silently mutated. v2 is a synthetic
    // refresh of the documents table (every 17th doc dropped, every 13th
    // rewritten, 20 new ids appended); the compared value is the 64-bit
    // content hash, so text never rides the full-outer join's shuffle.
    // Fresh ids are NEGATIVE (-20..-1): real doc_ids are dense 0..N-1,
    // so a positive literal range would collide with existing docs at a
    // larger sf and silently break the 'added' semantics.
    "llm_corpus_diff" -> scaled((s, dir) => {
      val v1 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = t(s, dir, "documents")
        .filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
            .as("text"))
        .unionByName(s.range(-20, 0).toDF("doc_id")
          .select(col("doc_id"),
            concat(lit("fresh crawl doc "), col("doc_id").cast("string"))
              .as("text")))
      llm.TextOps.corpusDiff(v1, v2, "doc_id", "text")
    }),

    // Corpus word-distribution drift between the same two snapshots the
    // corpus_diff row compares — top-20 most-drifted words by |Δ(c/N)|
    // (one IEEE division per rate; word tie-break pins the cut).
    "llm_corpus_drift" -> scaled((s, dir) => {
      val v1 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = t(s, dir, "documents")
        .filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
            .as("text"))
        .unionByName(s.range(-20, 0).toDF("doc_id")
          .select(col("doc_id"),
            concat(lit("fresh crawl doc "), col("doc_id").cast("string"))
              .as("text")))
      llm.TextOps.corpusDrift(v1, v2, "doc_id", "text", topK = 20)
    }),

    // Overlapping token-window chunking (RAG/embedding front gate):
    // 32-token chunks every 24 tokens — pure map-side transform+explode,
    // zero shuffles, layout a pure function of (doc id, offsets).
    "llm_chunking" -> scaled((s, dir) => {
      llm.Retrieval.chunk(t(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 24)
    }),

    // Inactivity-gap sessionization over the events stream (30-min gap):
    // per-user epoch-us windows, integer gap math, decimal value sums.
    "llm_sessionize" -> scaled((s, dir) => {
      core.Sessionize.sessionize(
        t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000")),
        "user_id", "event_id", "value", gapUs = 1800000000L)
    }),

    // Ordered conversion funnel view→click→purchase: per-step min
    // aggregations chained on the user key, strict integer-us ordering.
    "llm_funnel" -> scaled((s, dir) => {
      core.EventAnalytics.funnel(
        t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000")),
        "user_id", "event_type", Seq("view", "click", "purchase"))
    }),

    // Cohort retention matrix: first-event epoch-day cohorts × activity
    // day offsets, distinct active users per cell.
    "llm_retention" -> scaled((s, dir) => {
      core.EventAnalytics.retention(
        t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000")),
        "user_id")
    }),

    // Unicode NFC normalization (native expression, JDK Normalizer):
    // decomposed salt sequences (e+U+0301, A+U+030A, o+U+0308) compose
    // to single codepoints — the pre-hash cleanup exact dedup needs.
    // Oracle is DuckDB's independent nfc_normalize of the same salts.
    "llm_unicode_nfc" -> scaled((s, dir) => {
      val nfc = plans.NfcNormalize.nfc _
      val salted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" cafe\u0301 re\u0301sume\u0301")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" A\u030A ngstro\u0308m")).otherwise(lit(""))).as("t2"))
      salted.select(col("doc_id"),
        length(col("t2")).cast("long").as("n_chars_before"),
        length(nfc(col("t2"))).cast("long").as("n_chars_after"),
        (col("t2") =!= nfc(col("t2"))).as("changed"),
        nfc(col("t2")).as("normalized"))
    }),

    // BPE tokenizer training: 6 greedy merges learned on the word dict
    // (corpus touched once by the census); output is the merge table.
    "llm_bpe_train" -> scaled((s, dir) => {
      llm.TextOps.bpeTrain(t(s, dir, "documents"), "doc_id", "text", 6)
    }),

    // BPE APPLY: the trained dict's final segmentation (word → learned
    // token sequence) after the same 6 merges.
    "llm_bpe_encode" -> scaled((s, dir) => {
      llm.TextOps.bpeEncode(t(s, dir, "documents"), "doc_id", "text", 6)
    }),

    // End-to-end RAG retrieval pipeline: chunk (32/24 overlap) →
    // feature-hashing embedding (16-dim signed integer projection — the
    // deterministic stand-in sharing the (id, vq, norm2) contract a
    // neural embedder would fill) → integer-exact brute cosine top-3.
    // Chunk key cid = doc_id·1024 + chunk_id; queries are chunk 0 of
    // every doc_id % 173 == 0 document.
    "llm_rag_pipeline" -> scaled((s, dir) => {
      val chunks = llm.Retrieval
        .chunk(t(s, dir, "documents"), "doc_id", "text", 32, 24)
        .withColumn("cid", col("doc_id") * 1024 + col("chunk_id"))
      val emb = llm.Retrieval.hashEmbed(chunks, "cid", "chunk_text", 16)
        .filter(col("norm2") > 0)
        // two consumers (query slice + corpus side of the brute join)
        // would otherwise each re-run the chunk+embed chain
        .localCheckpoint()
      // cid % (1024·173) == 0 ⇔ chunk_id == 0 && doc_id % 173 == 0
      val queries = emb.filter(col("nid") % lit(1024L * 173) === 0)
        .select(col("nid").as("qid"), col("vq"), col("norm2"))
      llm.Ann.bruteTopK(queries, emb, 3)
    }),

    // Okapi BM25 top-5 keyword retrieval: queries are the first 5 words
    // of every doc_id % 97 == 0 document (query-by-example, self
    // excluded). Rational idf + micro-quantized integer term scores keep
    // the ranking bit-exact cross-engine; corpus tokens are pruned by the
    // broadcast query-term set before any aggregation.
    "llm_bm25" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      llm.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 5, excludeIdEq = true)
    }),

    // BM25 against the PERSISTED inverted index: the standing-index
    // keyword-retrieval lifecycle — the corpus is tokenized once at
    // build time (postings/lengths/df/stats on parquet, fingerprint-
    // keyed like the ANN indexes); this row probes the LOADED index, so
    // per query batch only its terms' postings are read. Deterministic
    // build ⇒ identical rows to llm_bm25 — same oracle SQL.
    "llm_bm25_index" -> scaled((s, dir) => {
      val queries = t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      llm.Retrieval.bm25TopK(queries, "qid", "qtext",
        sharedInvIndex(s, dir), k = 5, excludeIdEq = true)
    }),

    // Standing-index UPDATE (lifecycle parity with sq_update/pq
    // roundtrip): index 90% of the corpus, fold the held-out 10% batch
    // in additively (only the batch tokenizes — postings/dl union, df
    // sum, stats add), probe the same query set. The oracle scores the
    // FULL corpus: incremental fold ≡ full rebuild is the row's claim.
    "llm_bm25_update" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      val standing = llm.Retrieval.buildInvIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val updated = llm.Retrieval.updateInvIndex(standing,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      llm.Retrieval.bm25TopK(queries, "qid", "qtext", updated, k = 5,
        excludeIdEq = true)
    }),

    // Exact batch MaxScore over the standing index: head-term candidate
    // generation pruned by the index's per-term impact bounds, output
    // bit-identical to the plain probe — same oracle SQL IS the
    // exactness claim (plus the componentwise spec). r19: the entry
    // point dispatches on the batch's posting-multiply volume (VERDICT
    // r18 #6) — below the calibrated crossover it skips the three
    // MaxScore driver phases for the plain banded probe, so THIS row's
    // small sf-batch measures the dispatcher's cheap path; the pruning
    // machinery itself stays pinned by maxScoreChunk's componentwise
    // spec and the BenchBm25 big-batch lane.
    "llm_bm25_maxscore" -> scaled((s, dir) => {
      val queries = t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      llm.Retrieval.bm25TopKMaxScore(queries, "qid", "qtext",
        sharedInvIndex(s, dir), k = 5, excludeIdEq = true)
    }),

    // Probe-strategy AUTO pick: one bounded volume-estimate job (Σ df
    // over the batch's distinct (query, term) pairs — exactly the plain
    // probe's posting-multiply row count), then plain banded probe below
    // the measured crossover and exact MaxScore above it. Both branches
    // are bit-identical (they share this oracle), so the pick is purely
    // a cost decision — this is the entry point a production caller
    // should use; the _index/_maxscore rows pin each branch explicitly.
    "llm_bm25_auto" -> scaled((s, dir) => {
      val queries = t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      llm.Retrieval.bm25TopKAuto(queries, "qid", "qtext",
        sharedInvIndex(s, dir), k = 5, excludeIdEq = true)
    }),

    // Pseudo-relevance-feedback query expansion (RM3 shape): BM25 top-5
    // feedback docs per query from the shared standing index, every
    // feedback-doc term scored with the SAME Okapi impact the retrieval
    // uses, original query terms dropped, top-10 per query on
    // (Σ impact DESC, term ASC) through the bounded string-keyed
    // TopKWords tail (binary UTF-8 tie law ≡ DuckDB's collation).
    "llm_query_expand" -> scaled((s, dir) => {
      val queries = t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      llm.Retrieval.prfExpandTerms(queries, "qid", "qtext",
        sharedInvIndex(s, dir), kDocs = 5, mTerms = 10, excludeIdEq = true)
    }),

    // Exact phrase retrieval over positional postings — the operator the
    // bag-of-words BM25 family cannot express: a doc matches the 3-word
    // phrase (query doc's words 2-4) at start s iff every slot's word
    // sits at s + i; n_occurrences counts distinct starts. Entirely
    // relational slot-vote algebra (no array folds), same in the oracle.
    "llm_phrase_search" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 89 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 2, 3), ' ')").as("qtext"))
      // PERSISTED positional index (round 17): the probe reads only the
      // query words' bands of the banded layout — the same
      // build-once/probe-many lifecycle as llm_bm25_index; deterministic
      // build keeps the oracle (full tokenize replay) unchanged
      llm.Retrieval.phraseTopK(queries, "qid", "qtext",
        sharedPosIndex(s, dir), k = 5)
    }),

    // Positional-index UPDATE (lifecycle parity with llm_bm25_update):
    // index 90% of the corpus, fold the held-out 10% in additively (only
    // the batch tokenizes; postings of distinct ids are a disjoint
    // union), probe the same phrase set. The oracle replays the FULL
    // corpus: incremental fold ≡ full rebuild is the row's claim.
    "llm_phrase_update" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 89 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 2, 3), ' ')").as("qtext"))
      val standing = llm.Retrieval.buildPosIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      val updated = llm.Retrieval.updatePosIndex(standing,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      llm.Retrieval.phraseTopK(queries, "qid", "qtext", updated, k = 5)
    }),

    // EXACT windowed proximity search — the sloppy-match tier between
    // bag-of-words BM25 and the exact phrase: the same 3-word query set
    // as the phrase row, but a doc matches wherever ALL its distinct
    // words fall inside any 6-token window (any order); n_windows counts
    // the distinct matching starts. Pure start-vote algebra (each hit
    // position votes for the ≤ W starts it covers), probing the same
    // persisted banded positional layout.
    "llm_proximity_search" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 89 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 2, 3), ' ')").as("qtext"))
      llm.Retrieval.proximityTopK(queries, "qid", "qtext",
        sharedPosIndex(s, dir), k = 5, window = 6)
    }),

    // Standing-index tombstone DELETE: take down doc_id % 11 == 0 from
    // the shared persisted BM25 index (postings/lengths drop via a
    // broadcast-tombstone anti-join; df/stats subtract the deleted docs'
    // OWN re-tokenized contributions exactly; MaxScore bounds recompute
    // from the survivors), then probe the usual query set. The oracle
    // scores the corpus WITHOUT the deleted docs from scratch:
    // subtractive delete ≡ rebuild-over-survivors is the row's claim.
    // Queries keep coming from the FULL document set — a deleted
    // document's query text is still a valid query; its doc just can't
    // rank anymore.
    "llm_bm25_delete" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      val deleted = llm.Retrieval.deleteFromInvIndex(sharedInvIndex(s, dir),
        docs.filter(col("doc_id") % 11 === 0), "doc_id", "text")
      llm.Retrieval.bm25TopK(queries, "qid", "qtext", deleted, k = 5,
        excludeIdEq = true)
    }),

    // SNIPPET extraction (keyword-in-context): BM25 top-5 from the
    // shared standing index, then per (query, doc) the best 8-token
    // window — most distinct query words, ties to the smallest start —
    // with offset, hit count, and snippet text. Forward-index access
    // over the top-k-sized doc set only (the corpus semi-joins down to
    // |queries|·k docs before any tokenize).
    "llm_snippets" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      val top = llm.Retrieval.bm25TopK(queries, "qid", "qtext",
        sharedInvIndex(s, dir), k = 5, excludeIdEq = true)
      llm.Retrieval.extractSnippets(
        top.select(col("query_id"), col("doc_id")), queries, "qid", "qtext",
        docs, "doc_id", "text", window = 8)
    }),

    // MULTI-snippet extraction: the llm_snippets chain, widened to up to
    // 3 NON-OVERLAPPING 8-token windows per (query, top-doc) pair chosen
    // greedily ((count DESC, start ASC), each ≥ 8 tokens from every
    // earlier pick — a chain of relational argmax steps, Window-free)
    // plus 0-based match offsets inside each snippet (comma-joined — the
    // highlight payload).
    "llm_snippets_multi" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      val top = llm.Retrieval.bm25TopK(queries, "qid", "qtext",
        sharedInvIndex(s, dir), k = 5, excludeIdEq = true)
      llm.Retrieval.extractSnippetsMulti(
        top.select(col("query_id"), col("doc_id")), queries, "qid", "qtext",
        docs, "doc_id", "text", window = 8, nSnippets = 3)
    }),

    // The CLOSED RM3 loop — PRF retrieval (second pass): expand each
    // query through the llm_query_expand chain (BM25 top-5 feedback →
    // top-10 expansion terms), interpolate α = 0.6 (original terms at
    // 600000 div |q| micro each, expansion at 400000·e div Σe), and
    // RE-QUERY the same standing index with the weighted-term BM25 form
    // ((weight · impact) div 10⁶ per matched term). One lazy chain, two
    // partition-pruned probes, integer-deterministic end to end.
    "llm_prf_search" -> scaled((s, dir) => {
      val queries = t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      llm.Retrieval.prfSearch(queries, "qid", "qtext",
        sharedInvIndex(s, dir), kDocs = 5, mTerms = 10,
        alphaMicro = 600000L, k = 5, excludeIdEq = true)
    }),

    // Proximity-boosted BM25 — the first composition where the two
    // standing index families (inverted + positional) meet in ONE
    // ranking: BM25 top-20 candidates from the banded probe, windowed
    // proximity evidence (all query words inside an 8-token span)
    // counted over the positional layout restricted to the candidate
    // pairs, boosted_micro = score_micro + 100000·n_windows, re-ranked
    // top-5. Integer multiply-add on the quantized score — the whole
    // composition replays bit-identically in the oracle.
    "llm_prox_rank" -> scaled((s, dir) => {
      val queries = t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      llm.Retrieval.proximityRerank(queries, "qid", "qtext",
        sharedInvIndex(s, dir), sharedPosIndex(s, dir),
        kCand = 20, k = 5, window = 8, boostMicro = 100000L,
        excludeIdEq = true)
    }),

    // Index-lifecycle TORTURE chain — the composed laws the pairwise
    // specs pin, exercised end to end in one lazy plan: build over 90%
    // of the corpus → additive update folds the held-out 10% → tombstone
    // delete takes down doc_id % 7 == 0 (spanning base AND batch₁) →
    // a second update RE-ADDS the deleted % 21 == 0 ids (same text —
    // the defined re-add case) → probe. The oracle scores the NET
    // corpus (% 7 != 0 OR % 21 == 0) from scratch: any interaction bug
    // between the fold and subtract paths (df drift, stats skew,
    // double-subtraction under interleaving) breaks the hash match.
    "llm_index_lifecycle" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      // r19: persist each stage's shared roots (postings/dl/df/stats).
      // Every lifecycle step references its predecessor's LAZY
      // components several times (the dedupe anti-join reads dl, the
      // merged frames read postings/dl/df/stats, the bound rebuild
      // reads all four), so three chained steps multiplied the base
      // corpus tokenize into 174 parquet scans of documents.parquet in
      // ONE probe plan. Caching per stage pins each stage's subtree to
      // one execution — the in-row analogue of the save() checkpoint a
      // real deployment would take between lifecycle steps (fwd/
      // maxImpact stay lazy: they derive from the cached roots and the
      // plain probe never evaluates them). Cache lifetime: caller-owned
      // (bench/verify clearCache per row; see
      // Retrieval.proximityRerank's contract note).
      def cached(i: llm.Retrieval.InvIndex) = i.copy(
        postings = i.postings.persist(), dl = i.dl.persist(),
        dfTable = i.dfTable.persist(), stats = i.stats.persist())
      val idx1 = cached(llm.Retrieval.updateInvIndex(
        cached(llm.Retrieval.buildInvIndex(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text"))
      val idx2 = cached(llm.Retrieval.deleteFromInvIndex(idx1,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text"))
      val idx3 = llm.Retrieval.updateInvIndex(idx2,
        docs.filter(col("doc_id") % 21 === 0), "doc_id", "text")
      llm.Retrieval.bm25TopK(queries, "qid", "qtext", idx3, k = 5,
        excludeIdEq = true)
    }),

    // Drift gate → RETRAIN composition: the shifted batches that trip
    // the SQ-saturation and BM25-OOV gate legs (phase 1: vq → 3·vq + 41
    // vectors saturate the frozen SQ rails; reversed-token docs are OOV
    // against the frozen vocabulary), then the tripped artifacts retrain
    // — SQ bounds rebuilt over base ∪ batch₁, the inverted index folded
    // forward with the batch₁ docs — and a SECOND batch from the same
    // shifted distribution gates against the retrained artifacts
    // (phase 2): retraining repairs exactly what the gate detected.
    // All-integer metrics; the oracle replays both phases from scratch.
    "llm_drift_retrain" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val docs = t(s, dir, "documents")
      def vbatch(m: Int, off: Long) = corpus.filter(col("nid") % 7 === m)
        .select((col("nid") + off).as("nid"),
          expr("transform(vq, v -> v * 3 + 41)").as("vq"))
        .withColumn("norm2", expr("aggregate(vq, 0L, (acc, v) -> acc + v * v)"))
      def dbatch(m: Int, off: Long) = docs.filter(col("doc_id") % 53 === m)
        .select((col("doc_id") + off).as("doc_id"),
          expr("array_join(transform(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), w -> reverse(w)), ' ')").as("text"))
      val (b1, d1) = (vbatch(0, 10000000L), dbatch(0, 10000000L))
      val (b2, d2) = (vbatch(1, 20000000L), dbatch(1, 20000000L))
      val sq1 = sharedSqIndex(s, dir)
      val inv1 = sharedInvIndex(s, dir)
      val rep1 = llm.Drift.sqSaturation(sq1, b1)
        .unionByName(llm.Drift.bm25OovBp(inv1, d1, "text"))
      val sq2 = llm.Ann.buildSqIndex(corpus.unionByName(b1))
      val inv2 = llm.Retrieval.updateInvIndex(inv1, d1, "doc_id", "text")
      val rep2 = llm.Drift.sqSaturation(sq2, b2)
        .unionByName(llm.Drift.bm25OovBp(inv2, d2, "text"))
      val satMax = 500L; val oovMax = 500L
      llm.Drift.sqOovGate(rep1, satMax, oovMax).withColumn("phase", lit(1L))
        .unionByName(llm.Drift.sqOovGate(rep2, satMax, oovMax)
          .withColumn("phase", lit(2L)))
        .select(col("phase"), col("check").as("gate_check"), col("observed"),
          col("threshold"), col("triggered"))
    }),

    // Hybrid retrieval: reciprocal-rank fusion (C=60, pure integer) of
    // dense brute-force cosine top-10 and sparse BM25 top-10 over the
    // SAME query set (vec_id % 50 == 0; query text = that doc's first 5
    // words) — the standard sparse+dense production shape; fusion cost
    // is O(queries × k), the corpus is never touched again.
    "llm_hybrid_search" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("qid"),
          expr("array_join(slice(filter(split(lower(text), ' '), " +
            "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
      val dense = llm.Ann.bruteTopK(annQueries(s, dir), annCorpus(s, dir), 10)
        .select(col("qid"), col("nid"), col("rank"))
      val sparse = llm.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 10, excludeIdEq = true)
        .select(col("query_id").as("qid"), col("doc_id").as("nid"),
          col("rank"))
      llm.Retrieval.rrfFuse(dense, sparse, k = 5)
    }),

    // Corpus-trained bigram-LM quality score (CCNet-style bucketing,
    // determinism-safe arithmetic-mean form): add-one-smoothed
    // p(w2|w1) trained on the corpus itself, per-doc mean token
    // probability in ppb, head/tail vs the corpus mean.
    "llm_ngram_lm" -> scaled((s, dir) => {
      llm.Retrieval.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Per-domain exact token budgets — the primitive a domain-mix plan
    // compiles to ("exactly N tokens per source"): per-source budgets
    // 400/700/1000 by source number mod 3; the per-group bucketed
    // cumsum never serializes a mega-domain through one task. Oracle is
    // the NAIVE per-source global window — the bucketed decomposition
    // must reproduce it exactly.
    "llm_domain_budget" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val budgets = docs.select(col("source")).distinct()
        .withColumn("budget",
          lit(400L) + (expr("CAST(substr(source, 4) AS BIGINT)") % 3) * 300L)
      llm.Sampling.tokenBudgetPerGroup(docs, "doc_id", "text", "source",
        budgets)
    }),

    // Rolling ingest composition: a persisted dedup index admits a new
    // batch AND updates cluster assignments incrementally — new docs
    // attach to existing components via their verified pairs (index
    // probe), closing only the SMALL graph of new ids + touched cluster
    // labels. Result is pinned identical to a full re-cluster of the
    // unioned corpus (the recursive-CTE oracle), at O(batch) cost.
    "llm_rolling_dedup" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      // ONE index per side supplies everything: the corpus's standing pair
      // list, the batch's internal pairs, and the cross probe — corpus
      // text is scanned once (persisted parquet in a real deployment).
      // The bands/shingles frames are persist()ed because the three pair
      // lists below reference each THREE times (standing self-join ×2 +
      // cross probe; probe + batch self-join ×2) and Spark re-executes
      // the tokenize+shingle+minhash subtree per reference — the cache
      // is the in-query analogue of the parquet-persisted rolling index.
      // Cache lifetime: caller-owned (bench/verify clearCache() per row;
      // see the contract note in Retrieval.proximityRerank)
      def persisted(i: llm.TextOps.DedupIndex) =
        i.copy(bands = i.bands.persist(), shingles = i.shingles.persist())
      val cIdx = persisted(llm.TextOps.buildDedupIndex(corpus, "doc_id", "text"))
      val nIdx = persisted(llm.TextOps.buildDedupIndex(batch, "doc_id", "text"))
      val corpusCC = llm.Clusters.connectedComponents(
        corpus.select(col("doc_id")), "doc_id",
        llm.TextOps.nearPairsFromIndex(cIdx, 0.5), "id_a", "id_b")
      val newOld = llm.TextOps.incrementalNearPairs(cIdx, nIdx, 0.5)
      val newNew = llm.TextOps.nearPairsFromIndex(nIdx, 0.5)
      llm.Clusters.incrementalClusters(corpusCC,
        batch.select(col("doc_id").as("id")), newNew, "id_a", "id_b", newOld)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
          (col("id") % 5 === 0).as("is_new"))
    }),

    // SemDeDup (Abbas et al. 2023): semantic near-dedup — trained k-means
    // cells as the blocking key, exact integer cosine within cells, then
    // connected components for the keep/drop decision. Reuses the
    // llm_ann_ivf quantizer, so the oracle replays identical training.
    "llm_semantic_dedup" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
      val corpus = e.select(col("vec_id").as("nid"), col("vq"), col("norm2"))
      // blocking cells come off the prebuilt index (build-once/probe-many);
      // persisted: the within-cell pair join references mem on BOTH sides
      // and re-ran the quantize + cell attach per side when left lazy.
      // Cache lifetime: caller-owned (bench/verify clearCache() per row;
      // see the contract note in Retrieval.proximityRerank)
      val mem = corpus.join(sharedAnnIndex(s, dir).cells, Seq("nid"))
        .withColumnRenamed("nid", "vec_id")
        .persist()
      val pairs = llm.Ann.nearDupPairs(mem, "vec_id", "cell", threshold = 0.35)
      llm.Clusters.dedupClusters(e.select(col("vec_id")), "vec_id",
        pairs, "id_a", "id_b")
    }),

    // Exact-substring duplicate spans (Lee et al. 2022 ExactSubstr shape):
    // word-8-grams shared by >= 2 distinct docs mark duplicated positions;
    // runs of consecutive duplicated positions bound the longest shared
    // substring. Deterministic boilerplate is salted in (every 5th doc a
    // fox sentence, every 7th a legal footer) so real cross-doc spans
    // exist; the oracle re-derives the identical salt.
    "llm_span_dedup" -> scaled((s, dir) => {
      val salted = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" the quick brown fox jumps over the lazy dog again")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" all rights reserved this document is provided without any warranty")).otherwise(lit(""))))
      llm.TextOps.spanDedup(salted, "doc_id", "text2", k = 8, minDocs = 2L)
    }),

    // Deterministic train/val/test split: the id-hash bucket gate cut at
    // 90/95 — membership is a pure function of identity, so the split
    // never leaks across re-runs, engines or repartitions.
    "llm_split" -> scaled((s, dir) => {
      val b = llm.Sampling.hashBucket(col("doc_id"))
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(b < 90, "train").when(b < 95, "val").otherwise("test").as("split"))
    }),

    // URL-level curation: canonicalize (lowercase authority, strip
    // fragment + tracking params), extract the registrable domain
    // (public-suffix aware: .CO.UK hosts resolve to distinct three-label
    // domains, not one shared "co.uk"), cap documents per domain in
    // deterministic hash order via the SCALE-SAFE bounded top-k aggregate
    // (perDomainCapAgg — no hot-domain sort window; rows beyond the cap
    // carry a NULL rank). Messy URLs are salted in deterministically;
    // 7 .com + 3 .co.uk synthetic hosts make both tiers bind.
    "llm_url_ops" -> scaled((s, dir) => {
      val withUrl = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://"),
          when(col("doc_id") % 11 === 0,
            concat(lit("WWW.Site"), (col("doc_id") % 3).cast("string"),
              lit(".CO.UK")))
            .otherwise(concat(lit("WWW.Example"),
              (col("doc_id") % 7).cast("string"), lit(".COM"))),
          lit("/Path"), col("doc_id").cast("string"),
          lit("?utm_source=feed&id="), (col("doc_id") % 30).cast("string"),
          lit("&fbclid=xyz#frag")).as("url"))
      val canon = withUrl
        .withColumn("canon_url", llm.TextOps.canonicalUrlCol("url"))
        .withColumn("domain", llm.TextOps.urlDomainCol("canon_url"))
      llm.TextOps.perDomainCapAgg(canon, "doc_id", "domain", cap = 40)
        .select(col("doc_id"), col("canon_url"), col("domain"),
          col("domain_rank"), col("kept"))
    }),

    // Skew-mitigated join + holistic aggregate on a DELIBERATELY skewed
    // key (80% of documents share one 'hot' key): `Skew.saltedJoin`
    // spreads the hot key over 8 salt buckets instead of one straggler
    // task, and `Skew.saltedCollectSet` two-phases the hot key's
    // collect_set so no single task materializes the full hot set. The
    // oracle is the PLAIN join + grouped distinct-list — salting must be
    // physically different but semantically invisible.
    "llm_salted_join" -> scaled((s, dir) => {
      import s.implicits._
      val big = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 < 8, lit("hot"))
          .otherwise(concat(lit("cold"), (col("doc_id") % 10).cast("string")))
          .as("skew_key"))
      val dim = Seq(("hot", "tier-a"), ("cold8", "tier-b"), ("cold9", "tier-c"))
        .toDF("skew_key", "tier")
      val joined = core.Skew.saltedJoin(big, broadcast(dim), "skew_key",
        saltFactor = 8)
      val sets = core.Skew.saltedCollectSet(
        joined.select(col("skew_key"), (col("doc_id") % 100).as("bucket")),
        "skew_key", "bucket", saltFactor = 8)
      joined.groupBy(col("skew_key"), col("tier"))
        .agg(count(lit(1)).as("n_docs"))
        .join(sets, Seq("skew_key"))
        .select(col("skew_key"), col("tier"), col("n_docs"),
          // joined to a flat string: the driver's comparator sorts/hashes
          // pandas cells, and ndarray cells are unhashable there
          concat_ws(",", array_sort(col("bucket_set"))).as("buckets"))
    }),

    // QUANTILE SKETCH (llm.Sketches.logHistogram/histQuantiles): P50/
    // P90/P99 doc length from a ≤ ~1000-bucket log-linear histogram —
    // DDSketch-style guaranteed ≤ 1/16 relative error, all integer
    // bit-length arithmetic, SUM-mergeable across shards. The in-row
    // audit compares against the EXACT percentile computed over the
    // value-domain histogram (window over distinct lengths — bounded
    // cardinality, never a row-global sort).
    "llm_quantile_sketch" -> scaled((s, dir) => {
      // the v >= 1 cut applies to BOTH the sketch and the exact audit:
      // the populations must match or the q·N thresholds diverge
      val v = t(s, dir, "documents")
        .select(length(col("text")).cast("long").as("v"))
        .filter(col("v") >= 1L)
        .localCheckpoint() // consumed by the histogram AND the audit
      val sk = llm.Sketches.histQuantiles(
        llm.Sketches.logHistogram(v, "v"), Seq(50, 90, 99))
      val exact = exactValueQuantiles(v, Nil, "v", count(lit(1)),
        Seq(50, 90, 99))
      sk.join(exact, Seq("q"))
        .select(col("q").cast("long").as("q"), col("sketch_v"), col("exact_v"),
          (abs(col("sketch_v") - col("exact_v")) * 16 <= col("exact_v"))
            .as("within_bound"))
    }),

    // TOKEN-WEIGHTED QUANTILES: "P50 of TOKENS sits in docs of length
    // ≤ X" — the curriculum/packing planner's view of the corpus (doc-
    // count quantiles mislead when long docs carry most of the mass).
    // Same bucket algebra with Σ tokens as bucket mass; exact audit
    // over the token-weighted value-domain histogram.
    "llm_weighted_quantile" -> scaled((s, dir) => {
      // same population rule as llm_quantile_sketch: v >= 1 everywhere
      val d = t(s, dir, "documents")
        .select(length(col("text")).cast("long").as("v"),
          size(split(lower(col("text")), " ")).cast("long").as("tok"))
        .filter(col("v") >= 1L)
        .localCheckpoint() // histogram + audit both read it
      val sk = llm.Sketches.histQuantiles(
        llm.Sketches.logHistogramWeighted(d, "v", "tok"), Seq(50, 90, 99))
      val exact = exactValueQuantiles(d, Nil, "v", sum(col("tok")),
        Seq(50, 90, 99))
      sk.join(exact, Seq("q"))
        .select(col("q").cast("long").as("q"), col("sketch_v"), col("exact_v"),
          (abs(col("sketch_v") - col("exact_v")) * 16 <= col("exact_v"))
            .as("within_bound"))
    }),

    // WINSORIZE (sketch consumed downstream): clamp doc lengths to the
    // sketch's [P1, P99] — the outlier-taming normalization a quality
    // pipeline runs before ratio features. The bounds come from the
    // ≤ ~1000-bucket histogram (broadcast back as two scalars), so the
    // whole pass is one scan + one tiny side computation at any scale.
    "llm_winsorize" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("v"))
      val bounds = llm.Sketches.histQuantiles(
        llm.Sketches.logHistogram(docs, "v"), Seq(1, 99))
        .groupBy()
        .agg(min(when(col("q") === 1, col("sketch_v"))).as("p1"),
          min(when(col("q") === 99, col("sketch_v"))).as("p99"))
      docs.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("v"),
          least(greatest(col("v"), col("p1")), col("p99")).as("w"),
          (col("v") < col("p1") || col("v") > col("p99")).as("clamped"))
    }),

    // CORPUS CUBE REPORT: Spark native `cube` (one Expand + one hash
    // agg — partial-aggregated map-side, no per-grouping-set rescan)
    // over (length class × shard) with doc and token totals; the
    // grouping_id bitmask disambiguates subtotal rows. The standard
    // "corpus composition dashboard" rollup at any scale.
    "llm_corpus_report" -> scaled((s, dir) => {
      val d = t(s, dir, "documents").select(
        expr("CAST(length(text) AS BIGINT) div 128").as("len_class"),
        (col("doc_id") % 4).cast("long").as("shard"),
        size(split(lower(col("text")), " ")).cast("long").as("__tok"))
      d.cube(col("len_class"), col("shard"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
        .select(col("len_class"), col("shard"), col("gid"),
          col("n_docs"), col("n_tokens"))
    }),

    // Z-ORDER LAYOUT (llm.Layout): Morton-interleave (hash(doc), length
    // scaled to 16 bits) and audit the per-cell bounding rectangles —
    // every 10-bit z-cell MUST cover < 2048 of each dimension, the
    // guarantee multi-dimensional file-skipping consumes. The oracle
    // replays the interleave bit-for-bit.
    "llm_zorder_layout" -> scaled((s, dir) => {
      val d = t(s, dir, "documents").select(
        (llm.TextOps.h64c(concat(col("doc_id").cast("string"), lit(":dom")))
          % 65536L).as("x"),
        (least(length(col("text")).cast("long"), lit(1023L)) * 64L + 32L)
          .as("y"))
      llm.Layout.zLayoutStats(d, "x", "y", prefixBits = 5)
    }),

    // COMPACTION PLAN (llm.Layout): pack order-adjacent files of a
    // synthetic listing (one "file" per (source, doc_id div 100) slice,
    // sized by its char sum) into ~4 KiB bins, preserving layout order —
    // the small-file compaction step a z-ordered/range-sharded table
    // needs without interleaving distant key ranges. The running fill is
    // the tokenBudget two-level bucketed cumsum (no global-window task);
    // the oracle replays it as one plain global window.
    "llm_compaction_plan" -> scaled((s, dir) => {
      val files = t(s, dir, "documents")
        .groupBy((expr("CAST(substr(source, 4) AS BIGINT)") * 1000L +
          expr("doc_id div 100")).as("fid"))
        .agg(sum(col("n_chars")).as("bytes"))
      llm.Layout.compactionPlan(files, "fid", "bytes", targetBytes = 4096L)
    }),

    // Epoch/repeat-factor mixture plan: per-source token supply vs the
    // budget·weight target — exact integer epochs (millionths), the
    // repeat cap, and the deficit where supply runs out. The planner a
    // mixture designer iterates on before any sampler runs.
    "llm_epoch_plan" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val weights = docs.select(col("source")).distinct()
        .withColumn("weight_bp",
          lit(100L) + (expr("CAST(substr(source, 4) AS BIGINT)") % 5) * 50L)
      llm.Sampling.epochPlan(docs, "doc_id", "text", "source", weights,
        budgetTokens = 100000L, maxEpochsMicro = 1000000L)
    }),

    // Padding-waste audit of fixed-count batch packing: naive (id-order)
    // vs length-sorted batching, one summary row each — the measured
    // padding-FLOP fraction sorted batching recovers. Both global orders
    // rank via the two-level bucketed decomposition (no global sort).
    "llm_pack_efficiency" -> scaled((s, dir) => {
      llm.TextOps.packEfficiency(t(s, dir, "documents"), "doc_id", "text",
        batchSize = 16)
    }),

    // Exact token-budget cut: keep documents in deterministic hash order
    // until the cumulative token count crosses the budget — the
    // "exactly N training tokens" sampler. The running sum decomposes
    // into 1024 hash-prefix range buckets (offsets via one tiny window),
    // so no task ever sums the whole corpus.
    "llm_token_budget" -> scaled((s, dir) => {
      llm.Sampling.tokenBudget(t(s, dir, "documents"), "doc_id", "text",
        budget = 10000L)
    }),

    // Deterministic word-dropout augmentation: token drops iff
    // h64(id:salt:pos) % 100 < 15 — reproducible across engines and
    // re-runs; a new salt = a fresh epoch mask.
    "llm_word_dropout" -> scaled((s, dir) => {
      llm.TextOps.wordDropout(t(s, dir, "documents"), "doc_id", "text",
        pct = 15, salt = "ep1")
    }),

    // Text normalization (C4-style pre-dedup cleanup): URLs → <URL>,
    // tabs/CRs → spaces, space runs collapsed, trimmed. The corpus is
    // clean prose, so messy URLs + runs are salted in deterministically
    // and the oracle re-derives the identical salt.
    "llm_text_normalize" -> scaled((s, dir) => {
      val salted = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit("  visit   https://example.com/page"),
              (col("doc_id") % 50).cast("string"), lit("?ref=rss  now")))
            .otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit("\ttabbed\rtail")).otherwise(lit(""))))
      salted.select(col("doc_id"),
        llm.TextOps.urlCount(col("text2")).as("n_urls"),
        llm.TextOps.normalizeText(col("text2")).as("normalized_text"))
    }),

    // Exact-substring span REMOVAL: every duplicated 8-gram occurrence
    // except the globally first (min (doc, pos) per gram) is cut and the
    // text rebuilt from uncovered words — the transformation
    // llm_span_dedup measures, same salt.
    "llm_span_scrub" -> scaled((s, dir) => {
      val salted = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" the quick brown fox jumps over the lazy dog again")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" all rights reserved this document is provided without any warranty")).otherwise(lit(""))))
      llm.TextOps.spanScrub(salted, "doc_id", "text2", k = 8, minDocs = 2L)
    }),

    // Per-doc top-3 keywords by tf·(N/df) — rational idf keeps every step
    // exact (integer product + one IEEE division), where log(N/df)'s last
    // ulp is libm-dependent and would make the top-k cut nondeterministic.
    "llm_tfidf_terms" -> scaled((s, dir) => {
      llm.TextOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
    }),

    // Deterministic global shuffle + shard layout for training export:
    // shard = h64(id) mod 8, seq = rank by (h64, id) within the shard —
    // membership and order are pure functions of identity, reproducible
    // across engines and re-runs (what orderBy(rand()) can never give).
    "llm_shard_plan" -> scaled((s, dir) => {
      llm.Sampling.shardPlan(t(s, dir, "documents"), "doc_id", "text", 8)
    }),

    // Per-source corpus profile: doc/token counts, exact disc percentiles
    // computed off the length HISTOGRAM (no per-source window over docs —
    // sources are low-cardinality, a raw-rank window would straggle), and
    // per-source distinct vocabulary.
    "llm_corpus_profile" -> scaled((s, dir) => {
      llm.TextOps.corpusProfile(t(s, dir, "documents"), "doc_id", "text",
        "source")
    }),

    // Product quantization encode: code pairs + the exact reconstruction
    // cosine (storage honesty metric) against the SHARED prebuilt
    // codebooks — the standing-index encode path for new corpus batches
    // (one assignment pass per subspace, training lives in
    // llm_ann_index_build; deterministic training keeps the oracle's
    // replay identical).
    "llm_pq_encode" -> scaled((s, dir) => {
      llm.Ann.pqEncode(annCorpus(s, dir), sharedAnnIndex(s, dir).pq)
    }),

    // Standing-index UPDATE — the third verb of the index lifecycle
    // (build once / probe many / update incrementally): a new batch
    // (vec_id % 7 == 0) arrives AFTER the codebooks were trained on the
    // base corpus, and is encoded against those frozen books in one
    // assignment pass — genuine out-of-sample encode, no retraining. At
    // 100 TB this is the nightly-ingest path: train monthly, encode every
    // new shard against the standing books. The oracle replays the
    // base-only training, then encodes the batch.
    "llm_index_update" -> scaled((s, dir) => {
      val all = annCorpus(s, dir)
      val base = all.filter(col("nid") % 7 =!= 0)
      val batch = all.filter(col("nid") % 7 === 0)
      val idx = llm.Ann.buildPqIndex(base, step = 25, iters = 2)
      llm.Ann.pqEncode(batch, idx)
    }),

    // SQ8 standing-index UPDATE path: an out-of-sample batch (nid%7==0)
    // encoded against bounds trained on the REST of the corpus — new
    // vectors arrive, bounds stay frozen, out-of-range values saturate
    // to code 0/255 (the clamp in sqEncode). The PQ analogue is
    // llm_index_update.
    "llm_sq_update" -> scaled((s, dir) => {
      val all = annCorpus(s, dir)
      val bounds = llm.Ann.sqTrain(all.filter(col("nid") % 7 =!= 0))
      llm.Ann.sqEncode(all.filter(col("nid") % 7 === 0), bounds)
        .select(col("nid").as("vec_id"),
          posexplode(col("codes")).as(Seq("pos", "code")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("code"))
    }),

    // DSIR-style hashed-feature importance reweighting: documents scored
    // by how target-like (lang = 'en' as the trusted slice) their hashed
    // token distribution is — bucket census → Laplace-smoothed
    // BIT-RESOLUTION log-likelihood ratios (integer floor-log2 via the
    // binary string; no floating logarithm) → per-doc summed weight.
    // The 1024-row llr table broadcasts at any corpus size.
    "llm_importance_weights" -> scaled((s, dir) => {
      llm.Sampling.importanceWeights(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", buckets = 1024)
    }),

    // DSIR importance weights with the published recipe's FULL feature
    // set — unigrams plus adjacent-pair bigrams of the filtered token
    // sequence (lead() per doc; the 1024-cell llr table still broadcasts).
    "llm_importance_bigram" -> scaled((s, dir) => {
      llm.Sampling.importanceWeights(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", buckets = 1024, bigrams = true)
    }),

    // DSIR selection: the importance weights fed through the exact
    // top-p% histogram cut — "keep the 10% most target-like documents",
    // the composed data-selection pipeline (score → threshold → flag)
    // with no row ever sorted globally.
    "llm_importance_cut" -> scaled((s, dir) => {
      val w = llm.Sampling.importanceWeights(t(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en", buckets = 1024)
        .withColumn("imp", col("imp_bits").cast("double"))
      llm.Sampling.qualityCut(w, "doc_id", "imp", pct = 10)
    }),

    // Hard-negative mining for contrastive training: a query's top
    // cosine neighbors EXCLUDING its own semantic-dedup cluster — near
    // but not duplicate, the pairs an embedding model learns most from.
    // Brute top-10 → drop clustermates → re-rank to 3.
    "llm_hard_negatives" -> scaled((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
      val corpus = e.select(col("vec_id").as("nid"), col("vq"), col("norm2"))
      val queries = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("vq"), col("norm2"))
      // semantic-dedup blocking cells off the prebuilt index
      val mem = corpus.join(sharedAnnIndex(s, dir).cells, Seq("nid"))
        .withColumnRenamed("nid", "vec_id")
      val pairs = llm.Ann.nearDupPairs(mem, "vec_id", "cell", threshold = 0.35)
      val comp = llm.Clusters.connectedComponents(
        e.select(col("vec_id")), "vec_id", pairs, "id_a", "id_b")
      val cand = llm.Ann.bruteTopK(queries, corpus, 10)
        .join(comp.select(col("id").as("qid"), col("comp").as("qc")), Seq("qid"))
        .join(comp.select(col("id").as("nid"), col("comp").as("nc")), Seq("nid"))
        .filter(col("qc") =!= col("nc"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
      cand.withColumn("neg_rank", row_number().over(w).cast("long"))
        .filter(col("neg_rank") <= 3)
        .select(col("qid"), col("neg_rank"), col("nid"), col("cos"))
    }),

    // PQ asymmetric-distance search: queries score the ENCODED corpus
    // through broadcast per-subspace lookup tables (two lookups + an add
    // per corpus vector — never a d-dim dot), ranked by cosine-against-
    // reconstruction. At scale this composes with IVF cells (IVF-PQ).
    "llm_pq_search" -> scaled((s, dir) => {
      // standing-index ADC search: probes the shared prebuilt codebooks
      llm.Ann.pqSearch(annQueries(s, dir), sharedAnnIndex(s, dir).pq, k = 3)
    }),

    // IVF-PQ search: the production ANN layout — coarse cells prune the
    // corpus, PQ codes + broadcast LUTs score the survivors. Per query:
    // (corpus/nCells)·nProbe lookup-adds, never a d-dim dot.
    "llm_ivfpq_search" -> scaled((s, dir) => {
      // the standing-index search path: probes the parquet-loaded index,
      // no training inside the call (build-once/probe-many)
      llm.Ann.ivfPqSearch(annQueries(s, dir), sharedAnnIndex(s, dir),
        k = 3, nProbe = 2)
    }),

    // IVF-PQ probe as a PARTITION-PRUNED READ: the code table is WRITTEN
    // partitioned by coarse cell (build-once, next to the index) and the
    // query batch's probed cells become an IN filter on the partition
    // column — the scan lists/reads ONLY probed cells' directories
    // (PartitionFilters, spec-pinned), the executable form of the layout
    // claim every IVF scaladoc makes. Returns exactly llm_ivfpq_search's
    // rows; the oracle is the same SQL.
    "llm_ivf_pruned_probe" -> scaled((s, dir) => {
      llm.Ann.ivfPqSearchPruned(s, annQueries(s, dir),
        sharedAnnIndex(s, dir), sharedCellLayout(s, dir), k = 3, nProbe = 2)
    }),

    // ANN tombstone DELETE: take down vec_id % 9 == 0 from the shared
    // IVF-PQ index (cell assignment + code table drop rows via a
    // broadcast anti-join; the trained quantizers stay frozen — deletes
    // never retrain, the drift gate owns that), then run the standard
    // IVF-PQ probe. The oracle replays the FULL training chain (the
    // quantizers saw the deleted vectors) with the candidate set
    // filtered to survivors — exactly what a frozen-artifact delete
    // means.
    "llm_ann_delete" -> scaled((s, dir) => {
      val tomb = annCorpus(s, dir).filter(col("nid") % 9 === 0)
        .select(col("nid"))
      llm.Ann.ivfPqSearch(annQueries(s, dir),
        llm.Ann.deleteFromIvfPqIndex(sharedAnnIndex(s, dir), tomb),
        k = 3, nProbe = 2)
    }),

    // PQ recall gate: recall@3 of ADC search against brute-force truth —
    // what two 20-centroid subspace codebooks actually buy (measured 0.40
    // at sf0.01); the same honesty metric the ANN paths carry.
    "llm_pq_recall" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      // standing-index search (shared prebuilt codebooks, no retraining)
      val pq = llm.Ann.pqSearch(queries, sharedAnnIndex(s, dir).pq, k = 3)
      llm.Ann.recallAtK("pq_adc", truth, pq)
    }),

    // IVF-PQ recall gate + the exact re-rank tier: recall@3 of (a) raw
    // cell-restricted ADC and (b) ADC top-20 shortlist → exact
    // integer-cosine re-rank → top-3, both against brute truth. The
    // re-rank stage is how production PQ recovers accuracy: within
    // probed cells it returns exactly what brute force would, so its
    // recall equals the coarse tier's cell recall.
    "llm_ivfpq_recall" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      // probes the shared prebuilt index (build-once/probe-many)
      val idx = sharedAnnIndex(s, dir)
      val adc = llm.Ann.ivfPqSearch(queries, idx, k = 3, nProbe = 2)
      val rr = llm.Ann.ivfPqSearchRerank(queries, corpus, idx, k = 3,
        nProbe = 2, shortlist = 20)
      llm.Ann.recallAtK("ivfpq_adc", truth, adc)
        .unionByName(llm.Ann.recallAtK("ivfpq_rerank", truth, rr))
    }),

    // Scalar quantization (SQ8) encode: per-dimension trained min/max
    // bounds → 8-bit codes, the storage tier between raw vectors and PQ
    // (per-coordinate fidelity at 8 bits/dim). Exploded (vec_id, pos,
    // mn, mx, code) rows for the %25 sample pin the trained bounds AND
    // every code against the oracle's replay of the same train+encode.
    "llm_sq_encode" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val bounds = llm.Ann.sqTrain(corpus)
      llm.Ann.sqEncode(corpus.filter(col("nid") % 25 === 0), bounds)
        .select(col("nid").as("vec_id"), col("mns"), col("mxs"),
          posexplode(col("codes")).as(Seq("pos", "code")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          expr("element_at(mns, pos + 1)").as("mn"),
          expr("element_at(mxs, pos + 1)").as("mx"),
          col("code"))
    }),

    // SQ8 asymmetric search: queries score the encoded corpus through the
    // exact 255-scaled integer reconstruction (the SQ analogue of PQ's
    // ADC) — corpus never shuffles, query batch broadcasts. Standing-index
    // form: probes the LOADED shared SQ index (build-once/probe-many);
    // deterministic training keeps the oracle's inline replay identical.
    "llm_sq_search" -> scaled((s, dir) => {
      llm.Ann.sqSearch(annQueries(s, dir), sharedSqIndex(s, dir), k = 3)
    }),

    // SQ8 standing-index build: the one-time bounds-train + corpus-encode
    // cost every probe row amortizes (mirrors llm_ann_index_build) —
    // component row counts of the persisted parquet artifacts.
    "llm_sq_index" -> scaled((s, dir) => {
      val idx = sharedSqIndex(s, dir)
      Seq(("bounds", idx.bounds), ("codes", idx.codes))
        .map { case (name, df) =>
          df.agg(count(lit(1)).cast("long").as("n_rows"))
            .select(lit(name).as("component"), col("n_rows"))
        }
        .reduce(_ unionByName _)
    }),

    // SQ8 recall gate: recall@3 of reconstruction-ranked search against
    // brute truth — what 8-bit per-coordinate storage actually costs
    // (SQ recall runs far above PQ's: per-dim bounds lose only grid
    // resolution, not subspace structure).
    "llm_sq_recall" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      llm.Ann.recallAtK("sq_adc", truth, llm.Ann.sqSearch(queries, corpus, 3))
    }),

    // Sparse random projection (Johnson–Lindenstrauss) to 16 dims: signs
    // from an explicit integer LCG over (j,k) — no stored matrix, any
    // engine replays it bit-exactly. Exploded (vec_id, k, y) for the %25
    // sample pins every projected coordinate.
    "llm_rp_project" -> scaled((s, dir) => {
      llm.Ann.rpProject(annCorpus(s, dir).filter(col("nid") % 25 === 0), 16)
        .select(col("nid").as("vec_id"), posexplode(col("rp")).as(Seq("k", "y")))
        .select(col("vec_id"), col("k").cast("long").as("k"), col("y"))
    }),

    // Brute top-k in the projected space: the d/dOut× cheaper scoring
    // tier reduction buys — same ranking law, 16-dim integer dots.
    "llm_rp_topk" -> scaled((s, dir) => {
      llm.Ann.rpTopK(annQueries(s, dir), annCorpus(s, dir), dOut = 16, k = 3)
    }),

    // 64-bit binary sign sketch (two 32-bit words — engine-safe shifts):
    // 8 bytes per vector, the cheapest ANN storage tier. %25 sample pins
    // every packed word against the oracle's replay.
    "llm_bin_sketch" -> scaled((s, dir) => {
      llm.Ann.binSketch(annCorpus(s, dir).filter(col("nid") % 25 === 0))
        .select(col("nid").as("vec_id"), col("blo"), col("bhi"))
    }),

    // Hamming top-k over the sign sketches: two XOR+POPCNT per candidate
    // pair — the binary shortlist tier, same (distance, nid) tie law.
    "llm_hamming_topk" -> scaled((s, dir) => {
      llm.Ann.hammingTopK(annQueries(s, dir), annCorpus(s, dir), k = 3)
    }),

    // Hamming recall gate: what 1-bit-per-dimension quantization costs
    // vs exact cosine truth — the price tag on the 64× memory cut.
    "llm_hamming_recall" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      llm.Ann.recallAtK("hamming64", truth,
        llm.Ann.hammingTopK(queries, corpus, 3))
    }),

    // Two-stage binary search: Hamming shortlist-16 → exact cosine
    // re-rank to top-3 (full-precision vectors touched only for
    // |q|·16 candidates), plus the recall the refine stage recovers
    // over the raw Hamming tier — one frame, both rows.
    "llm_hamming_rerank" -> scaled((s, dir) => {
      llm.Ann.hammingRerank(annQueries(s, dir), annCorpus(s, dir),
        k = 3, shortlist = 16)
    }),
    "llm_hamming_rerank_recall" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      llm.Ann.recallAtK("hamming64_rerank16", truth,
        llm.Ann.hammingRerank(queries, corpus, k = 3, shortlist = 16))
    }),

    // Hamming recall CURVE: rerank recall@3 vs shortlist breadth
    // k × {2, 4, 8} — the cost/recall price list of the 8-byte tier,
    // mirroring llm_ivf_probe_curve's nProbe sweep. Each widening of the
    // shortlist multiplies only the full-precision re-rank work
    // (|q|·shortlist exact dots); the corpus-wide scan stays 8 B/vector.
    "llm_hamming_curve" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      // ONE exact-truth pass and ONE corpus-wide Hamming scan feed all
      // three breadths (checkpointed — three recallAtK/rerank consumers
      // would otherwise each replay the brute dots and the XOR scan; the
      // shortlist legs are rank-prefix cuts of the widest shortlist,
      // exactly how the oracle replays it)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3).localCheckpoint()
      val short24 = llm.Ann.hammingTopK(queries, corpus, k = 24)
        .localCheckpoint()
      Seq(6, 12, 24).map { sl =>
        val cand = short24.filter(col("rank") <= sl)
          .select(col("qid"), col("nid"))
        llm.Ann.recallAtK(s"hamming_sl$sl", truth,
          llm.Ann.rerankExact(queries, corpus, cand, k = 3))
      }.reduce(_ unionByName _)
    }),

    // Generalized word-array Hamming tier at d = 96 (the non-64 path,
    // oracle-checked): the corpus widens to 96 dims by wrapping its
    // first 32 grid values (deterministic in both engines), sketches to
    // ceil(96/32) = 3 packed words, ranks popcount-of-XOR through the
    // bounded TopKPairs aggregate — proof the guard's escape hatch
    // carries the full contract, not just a spec fixture.
    "llm_hamming_wide" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
        .withColumn("vq", expr("concat(vq, slice(vq, 1, 32))"))
      val corpus = e.select(col("vec_id").as("nid"), col("vq"))
      val queries = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("vq"))
      llm.Ann.hammingTopKWords(queries, corpus, d = 96, k = 3)
    }),

    // JL recall gate: recall@3 of projected-space ranking against
    // original-space brute truth at dOut = 16 AND 32 — the measured
    // distortion/dimension tradeoff curve the reduction is priced by.
    "llm_rp_recall" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val queries = annQueries(s, dir)
      val truth = llm.Ann.bruteTopK(queries, corpus, 3)
      llm.Ann.recallAtK("rp16", truth,
          llm.Ann.rpTopK(queries, corpus, dOut = 16, k = 3))
        .unionByName(llm.Ann.recallAtK("rp32", truth,
          llm.Ann.rpTopK(queries, corpus, dOut = 32, k = 3)))
    }),

    // Distributed Gram/covariance: ONE corpus pass through a mergeable
    // constant-state aggregator (d(d+1)/2 + d + 1 longs) — upper-triangle
    // products + sums + count, with exact-integer mean centering
    // ncov = N·G − S_j·S_k. The frame is d² rows regardless of corpus size.
    "llm_gram_matrix" -> scaled((s, dir) => {
      llm.Pca.gramRows(s, llm.Pca.fit(annCorpus(s, dir)))
    }),

    // Two-pass SHIFTED Gram — the overflow-regime production form: pass 1
    // aggregates integer per-dim means (d+1 longs of state), pass 2 runs
    // the same Gram aggregator over the mean-shifted grid. `g` here is the
    // SHIFTED Gram (magnitudes re-centered, the 64-bit headroom win) while
    // `ncov` equals the one-pass row's ncov EXACTLY — the shift-invariance
    // law the oracle re-derives relationally from scratch.
    "llm_gram_shifted" -> scaled((s, dir) => {
      llm.Pca.gramRows(s, llm.Pca.fitShifted(annCorpus(s, dir)).model)
    }),

    // Incremental Gram maintenance: the corpus is fitted as two DISJOINT
    // halves and the models merged (moments are plain sums) — while the
    // ORACLE replays one whole-corpus Gram directly, so the hash match
    // proves base+delta merge ≡ full refit end to end (the law that lets
    // a daily ingest update the covariance without rescanning history).
    "llm_gram_incremental" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      val base = llm.Pca.fit(corpus.filter(col("nid") % 2 === 0), iters = 0)
      val delta = llm.Pca.fit(corpus.filter(col("nid") % 2 === 1), iters = 0)
      llm.Pca.gramRows(s, llm.Pca.merge(base, delta))
    }),

    // PCA dominant direction: 12 fixed integer power-iteration sweeps over
    // the scaled covariance (sign-truncating rescale to |c| ≤ 1e6,
    // |w| ≤ 1e5 per sweep) — Rayleigh ≥ 0.9·λ1 even on this corpus's
    // near-isotropic spectrum (PcaSpec pins the quality contract).
    "llm_pca_power" -> scaled((s, dir) => {
      llm.Pca.componentRows(s, llm.Pca.fit(annCorpus(s, dir)))
    }),

    // The G'-eigensolve: power iteration over the SHIFTED Gram alone —
    // the billion-row production path where the N²-scale centered ncov
    // no longer fits 64 bits but the N-scale shifted Gram does (rank-1
    // residual < N² per entry, negligible on any non-degenerate corpus).
    // The oracle replays means → shifted Gram → the identical
    // scale-and-sweep chain from scratch.
    "llm_pca_shifted_power" -> scaled((s, dir) => {
      llm.Pca.componentRows(s,
        llm.Pca.componentFromShiftedGram(llm.Pca.fitShifted(annCorpus(s, dir))))
    }),

    // Projection onto the fitted component: a broadcast-literal integer
    // dot per row — map-side only, the corpus never shuffles. %5 sample.
    "llm_pca_project" -> scaled((s, dir) => {
      val corpus = annCorpus(s, dir)
      llm.Pca.project(corpus.filter(col("nid") % 5 === 0),
          llm.Pca.fit(corpus))
        .select(col("nid").as("vec_id"), col("y"))
    }),

    // MMR-diversified rerank: brute top-8 candidates per query, then 3
    // greedy picks maximizing rel − max-sim-to-picked — the standard
    // diversification pass between retrieval and a context window. The
    // corpus is scanned once; the greedy steps run on the checkpointed
    // |q|·m candidate frame with m²-per-query sims, never corpus pairs.
    "llm_mmr_rerank" -> scaled((s, dir) => {
      llm.Ann.mmrRerank(annQueries(s, dir), annCorpus(s, dir), m = 8, k = 3)
    }),

    // k-anonymity audit over a quasi-identifier generalization ladder
    // (lang/source/length-bin, coarsening rung by rung): per-record
    // minimal safe rung, returned as the disclosure-risk histogram.
    // Four partial-aggregated census frames, AQE-decided joins (no
    // pinned broadcasts — L0 combo cardinality is data-derived).
    "llm_kanon_audit" -> scaled((s, dir) => {
      llm.TextOps.kAnonLevels(t(s, dir, "documents"), k = 5)
    }),

    // Cross-source quantile calibration: each source's micro-quantized
    // quality score maps onto the pooled distribution via exact integer
    // rank arithmetic — histograms rank, rows never sort; the only
    // non-equi join is histogram × broadcast-histogram. %20 sample.
    "llm_score_calibrate" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("score_micro",
          floor(llm.TextOps.qualityScore * lit(1000000.0)).cast("long"))
      llm.Sampling.calibrateScores(docs, "doc_id", "source", "score_micro")
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("source"), col("score_micro"),
          col("src_rank"), col("mapped_rank"), col("calib_micro"))
    }),

    // Calibration-effect gate: per-source exact integer KS statistic of
    // the calibrated distribution vs the pooled distribution — the "did
    // calibration align the feeds" audit (it caught min-rank tie
    // collapse: 0.49 max gap vs midrank's 0.10). Cross-multiplied
    // integers, one row per source.
    "llm_calibrate_ks" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("score_micro",
          floor(llm.TextOps.qualityScore * lit(1000000.0)).cast("long"))
      val calibrated = llm.Sampling.calibrateScores(docs, "doc_id",
        "source", "score_micro")
      llm.Sampling.calibrationKs(calibrated, "source", "calib_micro")
    }),

    // Leakage-safe split: near-dup CLUSTERS (not documents) hash into
    // train/test, so no near-duplicate pair straddles the split — the
    // audit column proves it (n_cross_pairs is COMPUTED, and 0).
    "llm_cluster_split" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = llm.TextOps.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5).localCheckpoint()
      val asg = llm.Clusters.leakageSafeSplit(docs.select(col("doc_id")),
        "doc_id", pairs, "id_a", "id_b", trainPct = 80).localCheckpoint()
      val cross = pairs
        .join(asg.select(col("doc_id").as("id_a"), col("split").as("__sa")),
          Seq("id_a"))
        .join(asg.select(col("doc_id").as("id_b"), col("split").as("__sb")),
          Seq("id_b"))
        .filter(col("__sa") =!= col("__sb"))
        .agg(count(lit(1)).as("n_cross_pairs"))
      asg.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .crossJoin(broadcast(cross))
    }),

    // Robust outlier gate: exact median + MAD off a ONE-scan value
    // histogram (deviation histogram derives from the value histogram,
    // never from rows), k = 2 fence, one audit row.
    "llm_mad_outliers" -> scaled((s, dir) => {
      llm.Sketches.madOutliers(t(s, dir, "documents"), "n_chars", k = 2)
    }),

    // Per-source robust fence: the same exact median/MAD law WITHIN each
    // feed — a clean feed's outliers vanish inside a global gate when
    // another feed's tail dominates. Keyed two-level folds; one row per
    // source.
    "llm_mad_by_source" -> scaled((s, dir) => {
      llm.Sketches.madOutliersByKey(t(s, dir, "documents"), "source",
        "n_chars", k = 2)
    }),

    // Quality-aware canonical pick: each multi-member near-dup cluster
    // elects its highest-scoring member (tie → lowest id) via a
    // skew-absorbing max(struct) partial aggregate — the representative
    // selection real curation runs instead of keep-min-id.
    "llm_best_of_cluster" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("score_micro",
          floor(llm.TextOps.qualityScore * lit(1000000.0)).cast("long"))
      val pairs = llm.TextOps.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5)
      llm.Clusters.bestOfCluster(docs, "doc_id", "score_micro",
        pairs, "id_a", "id_b")
    }),

    // Class-prototype similarity: integer centroid SUMS per label (one
    // posexplode partial agg — cosine is scale-invariant, so sums need
    // no division), then the |labels|² broadcast pair cosine audit.
    "llm_label_centroids" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
        .select(col("label"), col("vq"))
      llm.Ann.labelCentroidCosine(e, "label")
    }),

    // Perceptual image near-dup: REAL ImageIO decode → 8×8 integer aHash
    // (two 32-bit words) → pairwise hamming. Seed 3 reappears at 26×22
    // (a recrop of image 3's 25×22) and lands at hamming 6; unrelated
    // seeds sit 13–30 apart; the junk payload takes the sentinel and is
    // excluded. At corpus scale the pair join routes the words through
    // the Charikar block scheme (simhashNearDups) instead.
    "llm_image_phash" -> fixture((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val pngs = s.range(1, 5).map { id =>
        MediaItem(id, "image/png",
          llm.Multimodal.syntheticPng2(id, 16 + id.toInt * 3, 16 + id.toInt * 2),
          MediaMeta(0, 0, 0L, "png"))
      }
      val variant = s.range(103, 104).map { id =>
        MediaItem(id, "image/png", llm.Multimodal.syntheticPng2(3, 26, 22),
          MediaMeta(0, 0, 0L, "png"))
      }
      val junk = s.range(99, 100).map { id =>
        MediaItem(id, "image/png", "not an image".getBytes("UTF-8"),
          MediaMeta(0, 0, 0L, "png"))
      }
      val h = llm.Multimodal.aHash(pngs.union(variant).union(junk)).toDF()
        .filter(col("decoded"))
      val a = h.select(col("mediaId").as("id_a"), col("hashHi").as("ha"),
        col("hashLo").as("la"))
      val b = h.select(col("mediaId").as("id_b"), col("hashHi").as("hb"),
        col("hashLo").as("lb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS BIGINT)")
            .as("hamming"))
        .withColumn("near", col("hamming") <= 8)
    }),

    // Perceptual near-dup at CORPUS scale: one synthetic raster per
    // document row (sf-proportional — real ImageIO decode per image),
    // aHash words, then the Charikar BLOCK join (never all-pairs; the
    // pigeonhole makes radius ≤ 3 lossless over 4 16-bit blocks).
    // Pattern seeds cycle mod 256 and crop sizes cycle with doc_id, so
    // exact-dup pairs are planted throughout; output is the hamming
    // histogram + an id checksum — constant-size however many pairs the
    // corpus plants.
    "llm_image_phash_scale" -> scaled((s, dir) => {
      import s.implicits._
      import llm.Multimodal.{MediaItem, MediaMeta}
      val items = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val m = id / 256
          MediaItem(id, "image/png",
            llm.Multimodal.syntheticPng2(id % 256,
              16 + (m % 5).toInt, 16 + (m % 3).toInt),
            MediaMeta(0, 0, 0L, "png"))
        }
      val h = llm.Multimodal.aHash(items).toDF().filter(col("decoded"))
      llm.Multimodal.aHashNearDups(h, maxHamming = 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("id_a") + col("id_b")).as("id_checksum"))
    }),

    // Tokenizer fertility audit: chars-per-token by language, for both
    // the whitespace and BPE-ish tokenizations — the fairness check run
    // before trusting a shared token budget across languages (a
    // tokenizer that fragments one language inflates its effective
    // cost). One partial aggregation; ratios as exact integer micros.
    "llm_token_fertility" -> scaled((s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .select(Seq(col("lang"), col("n_chars")) ++ llm.TextOps.tokenCounts: _*)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_ws_tokens")).as("sum_ws_tokens"),
          sum(col("n_bpeish_tokens")).as("sum_bpeish_tokens"))
        .withColumn("chars_per_ws_micro",
          expr("sum_chars * 1000000 div sum_ws_tokens"))
        .withColumn("chars_per_bpeish_micro",
          expr("sum_chars * 1000000 div sum_bpeish_tokens"))
    }),

    // Language confusion matrix: declared `lang` vs the stopword-census
    // prediction — the label-noise audit a mixed-source corpus runs
    // before trusting per-language budgets. Two partial aggs + a
    // lang-cardinality join; shares as integer basis points.
    "llm_lang_confusion" -> scaled((s, dir) => {
      val pred = t(s, dir, "documents")
        .withColumn("ws", llm.TextOps.words("text"))
        .select(Seq(col("doc_id"), col("lang")) ++ llm.TextOps.langIdColumns: _*)
        .withColumn("pred_lang", llm.TextOps.predictedLang)
      val conf = pred.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val tot = pred.groupBy(col("lang")).agg(count(lit(1)).as("__t"))
      conf.join(tot, Seq("lang"))
        .withColumn("pct_bp", expr("n * 10000 div __t"))
        .select(col("lang"), col("pred_lang"), col("n"), col("pct_bp"))
    }),

    // MMR over IVF candidates: the diversification pass fed by the
    // standing index's cell-pruned top-8 instead of brute force — the
    // tier-agnostic composition mmrRerankFrom exists for. Corpus-side
    // cost is the IVF probe; the greedy runs on the |q|·m frame.
    "llm_mmr_ivf" -> scaled((s, dir) => {
      val idx = sharedAnnIndex(s, dir)
      val queries = annQueries(s, dir)
      val corpus = annCorpus(s, dir)
      val top = llm.Ann.ivfTopK(queries, corpus, idx.coarse, idx.cells,
        k = 8, nProbe = 2)
      llm.Ann.mmrRerankFrom(top, corpus, k = 3)
    }),

    // Retrieval evaluation harness: label-relevance MRR / precision@k of
    // the brute ranking — all-integer per query (rr_micro = 1e6 div
    // first relevant rank), the eval row any ANN tier slots into.
    "llm_retrieval_eval" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("vq"), col("norm2"),
          col("label").as("qlabel"))
      val c = e.select(col("vec_id").as("nid"), col("vq"), col("norm2"))
      val top = llm.Ann.bruteTopK(
        q.select(col("qid"), col("vq"), col("norm2")), c, 3)
      val labeled = top
        .join(e.select(col("vec_id").as("nid"), col("label").as("nlabel")),
          Seq("nid"))
        .join(broadcast(q.select(col("qid"), col("qlabel"))), Seq("qid"))
        .withColumn("rel", (col("nlabel") === col("qlabel")).cast("long"))
      labeled.groupBy(col("qid"))
        .agg(sum(col("rel")).as("n_rel_at_3"),
          min(when(col("rel") === 1L, col("rank"))).as("first_rel_rank"))
        .withColumn("rr_micro",
          coalesce(expr("1000000 div first_rel_rank"), lit(0L)))
        .withColumn("first_rel_rank", coalesce(col("first_rel_rank"), lit(0L)))
    }),

    // BPE merge-pair statistics: the corpus-weighted adjacent-char-pair
    // counts tokenizer training maximizes — top-32, counted over the
    // vocab-sized word-frequency table, never the raw token stream.
    "llm_bpe_pairs" -> scaled((s, dir) => {
      llm.TextOps.bpePairStats(t(s, dir, "documents"), "doc_id", "text", 32)
    }),

    // Cross-source duplication matrix: which feeds duplicate each other —
    // banded MinHash pairs (no all-pairs) joined back to doc→source,
    // least/greatest canonicalizes to the upper triangle.
    "llm_source_overlap" -> scaled((s, dir) => {
      llm.TextOps.sourceOverlap(t(s, dir, "documents"), "doc_id", "text",
        "source", threshold = 0.5)
    }),

    // Streaming ingest dedup: content-hash keyed min-id fold via
    // flatMapGroupsWithState — first-crawled copy wins, re-crawls drop.
    // A deterministic re-crawl is salted in (every doc_id%10=3 re-arrives
    // under id+1000000 through a self-union of the stream), and the
    // update-mode sink is folded to the per-key minimum so the result is
    // micro-batch-boundary-proof and equals SQL min(id) GROUP BY hash.
    "llm_stream_dedup" -> scaled((s, dir) => {
      import s.implicits._
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("doc_id"), col("text"))
      val recrawl = stream.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val keyed = stream.unionByName(recrawl)
        .select(llm.TextOps.h64c(col("text")).as("_1"), col("doc_id").as("_2"))
        .as[(Long, Long)]
      val q = streaming.StreamOps.minIdPerKey(keyed)
        .writeStream.format("memory").queryName("llm_stream_dedup_out")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table("llm_stream_dedup_out")
        .groupBy(col("key").as("content_hash"))
        .agg(min(col("min_id")).as("first_doc_id"))
        .select(col("content_hash"), col("first_doc_id"))
    }),

    // Curriculum-ordered export: shard layout as llm_shard_plan, but
    // within-shard order is (quality bin DESC, hash, id) — every shard
    // streams its best documents first (easy-to-hard schedule).
    "llm_curriculum_plan" -> scaled((s, dir) => {
      llm.Sampling.curriculumPlan(t(s, dir, "documents"), "doc_id",
        nShards = 8, nBins = 10)
    }),

    // End-to-end curation pipeline — the g14_full_dag analogue for the
    // LLM surface: URL front gate (canonicalize → registrable domain →
    // per-domain cap, the web-scale crawl tamer) → normalize → line dedup
    // → span scrub → Gopher quality gate → MinHash cluster dedup
    // (canonical keeps) → decontaminate against the eval split → domain
    // mixing → curriculum-ordered shard plan. One shared deterministic
    // salt gives every stage real work; each stage's contract is what its
    // standalone row already pins, so this row exists to catch
    // COMPOSITION bugs (column contracts, lost rows, double transforms).
    // The oracle recomputes the entire chain. The eval split and source
    // lookup read the RAW table — decontamination guards against the
    // full eval set, not just the part that survived the crawl gate.
    "llm_full_pipeline" -> scaled((s, dir) => {
      val docsAll = t(s, dir, "documents")
      // 0. URL front gate: same synthetic-URL scheme + cap as llm_url_ops
      val withUrl = docsAll.select(col("doc_id"),
        concat(lit("HTTPS://"),
          when(col("doc_id") % 11 === 0,
            concat(lit("WWW.Site"), (col("doc_id") % 3).cast("string"),
              lit(".CO.UK")))
            .otherwise(concat(lit("WWW.Example"),
              (col("doc_id") % 7).cast("string"), lit(".COM"))),
          lit("/Path"), col("doc_id").cast("string"),
          lit("?utm_source=feed&id="), (col("doc_id") % 30).cast("string"),
          lit("&fbclid=xyz#frag")).as("url"))
      val canon0 = withUrl
        .withColumn("canon_url", llm.TextOps.canonicalUrlCol("url"))
        .withColumn("domain", llm.TextOps.urlDomainCol("canon_url"))
      val kept0 = llm.TextOps.perDomainCapAgg(canon0, "doc_id", "domain",
          cap = 40)
        .filter(col("kept")).select(col("doc_id"))
      val docs = docsAll.join(kept0, Seq("doc_id"))
      val salted = docs.withColumn("text0", concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit("  visit   https://example.com/page"),
            (col("doc_id") % 50).cast("string"), lit("?ref=rss  now")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" the quick brown fox jumps over the lazy dog again")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter today")).otherwise(lit(""))))
      // 1. C4-style normalization (URLs → <URL>, ctl chars, space runs)
      val norm = salted.select(col("doc_id"),
        llm.TextOps.normalizeText(col("text0")).as("t1"))
      // 2. corpus-level line dedup (boilerplate removal)
      val ld = llm.TextOps.lineDedup(norm, "doc_id", "t1", minDocs = 10L)
        .select(col("doc_id"), col("cleaned_text").as("t2"))
        // spanScrub consumes its input from several internal branches
        // (gram census, occurrence join, word rebuild) — truncate so the
        // normalize+lineDedup chain runs once
        .localCheckpoint()
      // 3. exact-substring span removal (keep-first canonical)
      val ss = llm.TextOps.spanScrub(ld, "doc_id", "t2", k = 8, minDocs = 2L)
        .select(col("doc_id"), col("cleaned_text").as("text"))
      // 4. Gopher quality gate
      val q = ss
        .withColumn("ws", llm.TextOps.words("text"))
        .withColumn("lines", llm.TextOps.docLines)
        .withColumn("g2", llm.TextOps.wordBigrams)
        .select(Seq(col("doc_id"), col("text"), col("ws")) ++
          llm.TextOps.repetitionColumns: _*)
        .filter(llm.TextOps.gopherKeep)
        .select(col("doc_id"), col("text"))
        // stage boundary with THREE consumers (pair mining, the cluster
        // universe, the canonical join): truncate lineage so the
        // normalize→lineDedup→spanScrub chain runs once, not per branch —
        // the in-query analogue of materializing stage outputs between
        // pipeline steps (which is what a real 100 TB run does)
        .localCheckpoint()
      // 5. near-dup cluster dedup: the min-id canonical member survives
      val pairs = llm.TextOps.minhashNearDups(q, "doc_id", "text",
        threshold = 0.5)
      val cc = llm.Clusters.dedupClusters(q.select(col("doc_id")), "doc_id",
        pairs, "id_a", "id_b")
      val canon = q.join(cc.filter(col("is_canonical")).select(col("doc_id")),
          Seq("doc_id"))
        // two consumers (contamination flags + the clean join) and the
        // iterative cluster closure upstream — truncate again
        .localCheckpoint()
      // 6. decontamination vs the RAW eval split: the eval docs
      // themselves (still near-identical post-transform) and anything
      // sharing an 8-gram with them drop out of training
      val evalSet = docsAll.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id"), col("text"))
      val flags = llm.TextOps.contaminationFlags(canon, evalSet,
        "doc_id", "text", k = 8)
      val clean = canon.join(
        flags.filter(!col("contaminated")).select(col("doc_id")), Seq("doc_id"))
      // 7. domain mixing toward target token shares
      val withSrc = clean.join(docsAll.select(col("doc_id"), col("source")),
          Seq("doc_id"))
        // two consumers: the mix-rate derivation and the final plan join
        .localCheckpoint()
      val mixed = llm.Sampling.domainMix(withSrc, "doc_id", "text", "source",
        Map("src0" -> 5000L, "src1" -> 2000L), defaultBp = 100L)
      // 8. curriculum-ordered shard plan over the final corpus
      llm.Sampling.curriculumPlan(
        withSrc.join(mixed.filter(col("keep")).select(col("doc_id")),
          Seq("doc_id")),
        "doc_id", nShards = 8, nBins = 10)
    }),

    // AS-OF JOIN (core.AsOfJoin): attribute each purchase to the user's
    // most recent at-or-before view — the point-in-time-correct
    // "last known state" join, as ONE union + per-key window (linear),
    // never the quadratic inequality-join-then-prune rewrite. Oracle is
    // DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of
    // the same semantics.
    "llm_asof_join" -> scaled((s, dir) => {
      val e = t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("view_event_id"))
      core.AsOfJoin.asOfJoin(purchases, views, "user_id", "ts_us", "ts_us",
          Seq("view_event_id"))
        .withColumn("gap_us", col("ts_us") - col("asof_ts"))
    }),

    // RANGE JOIN (core.RangeJoin): events inside recurring 45-minute
    // windows every 3 hours — bucketized interval join (15-min grid) →
    // plain shuffled hash join on the cell id, never a nested-loop scan
    // of every window per event. Oracle is the naive inequality join.
    "llm_range_join" -> scaled((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("value"), expr("ts_ns div 1000").as("ts_us"))
      val t0 = e.agg(min(col("ts_us")).as("__t0"))
      val intervals = t0
        .select(explode(sequence(lit(0L), lit(239L))).as("window_id"),
          col("__t0"))
        .select(col("window_id"),
          (col("__t0") + col("window_id") * 10800000000L).as("lo_us"),
          (col("__t0") + col("window_id") * 10800000000L + 2700000000L)
            .as("hi_us"))
      core.RangeJoin.pointInInterval(e, "ts_us", intervals,
          "lo_us", "hi_us", bucketWidth = 900000000L)
        .groupBy(col("window_id"), col("lo_us"), col("hi_us"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("total_value"))
    }),

    // HLL DISTINCT SKETCH (llm.Sketches): unique daily-active users per
    // event type — the canonical sketch telemetry — from 512 one-byte
    // registers: constant state per group, bucket-wise-max MERGEABLE
    // (the '__all__' row is the union of the per-type sketches,
    // registers only, rows untouched). Exact distinct alongside so the
    // row itself audits the ±4.6% estimator. Every op is integer/string
    // (rank via length(bin()), harmonic sum as an exact scaled BIGINT);
    // the single float division replays IEEE-identically in the oracle.
    "llm_distinct_sketch" -> scaled((s, dir) => {
      val uday = t(s, dir, "events")
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select(col("event_type"),
          concat(col("user_id").cast("string"), lit("@"),
            expr("ts_us div 86400000000").cast("string")).as("uday"))
        // three consumers (registers + two exact counts) — checkpoint
        .localCheckpoint()
      val regs = llm.Sketches.hllRegisters(uday, "event_type", "uday")
        .localCheckpoint() // consumed by the merge AND the estimate union
      val all = llm.Sketches.hllMerge(regs, "event_type", "__all__")
      val est = llm.Sketches.hllEstimate(regs.unionByName(all), "event_type")
      val exact = uday.groupBy(col("event_type"))
        .agg(countDistinct(col("uday")).as("exact_distinct"))
      val exactAll = uday.agg(countDistinct(col("uday"))
        .as("exact_distinct")).withColumn("event_type", lit("__all__"))
      est.join(exact.unionByName(exactAll), Seq("event_type"))
    }),

    // HLL SET OVERLAP: |A ∩ B| between two crawls WITHOUT joining —
    // inclusion–exclusion over three mergeable sketches (E(A) + E(B) −
    // E(A ∪ B), union = bucket-wise max of the same registers). Each
    // doc fans out to 20 sub-ids so all three cardinalities sit above
    // the 2.5m small-range cutoff where the raw estimator is honest;
    // ratio_micro audits the estimate against the exact overlap.
    "llm_sketch_overlap" -> scaled((s, dir) => {
      val ids = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(19))).as("k"))
        .select(col("doc_id"),
          (col("doc_id") * 20 + col("k")).cast("string").as("id"))
        .localCheckpoint() // consumed by both sources + the exact count
      val a = ids.filter(col("doc_id") % 3 =!= 0)
        .select(lit("a").as("src"), col("id"))
      val b = ids.filter(col("doc_id") % 2 === 0)
        .select(lit("b").as("src"), col("id"))
      val regs = llm.Sketches.hllRegisters(a.unionByName(b), "src", "id")
        .localCheckpoint() // merge + estimate both read the registers
      val union = llm.Sketches.hllMerge(regs, "src", "u")
      val est = llm.Sketches.hllEstimate(regs.unionByName(union), "src")
      val p = est.groupBy()
        .agg(min(when(col("src") === "a", col("hll_estimate"))).as("est_a"),
          min(when(col("src") === "b", col("hll_estimate"))).as("est_b"),
          min(when(col("src") === "u", col("hll_estimate"))).as("est_union"))
        .withColumn("overlap_est",
          col("est_a") + col("est_b") - col("est_union"))
      val exact = ids
        .filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 2 === 0)
        .agg(count(lit(1)).as("exact_overlap"))
      p.crossJoin(broadcast(exact))
        .withColumn("ratio_micro",
          floor(col("overlap_est") * 1000000 / col("exact_overlap")))
    }),

    // DOC-LEVEL CO-OCCURRENCE (TextOps.cooccurPairs): token pairs
    // sharing ≥ 50 documents, apriori-pruned (only df ≥ 50 tokens ever
    // reach the pair join — the rare-token long tail never pays the
    // quadratic step), ranked by micro-quantized doc-count lift.
    "llm_cooccur" -> scaled((s, dir) => {
      llm.TextOps.cooccurPairs(t(s, dir, "documents"), "doc_id", "text",
        minDf = 50L, minSup = 50L, topK = 25)
    }),

    // LAST-TOUCH ATTRIBUTION (core.AsOfJoin composition): each purchase
    // attributes to the user's most recent STRICTLY-earlier non-purchase
    // touch within 7 days (same-instant touches pre-collapsed to the
    // max-event-id row so the as-of pick is deterministic); the
    // single-shuffle as-of form vs DuckDB's native ASOF with a strict
    // inequality. Unattributed purchases land in 'none'.
    "llm_attribution" -> scaled((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"), col("event_id"))
        .localCheckpoint() // purchases + touches both read it
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_ts"),
          col("event_id").as("p_id"))
      val touches = e.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(struct(col("event_id"), col("event_type")))
          .getField("event_type").as("touch_type"))
      val j = core.AsOfJoin.asOfJoin(purchases, touches, "user_id",
        "p_ts", "ts_us", Seq("touch_type"), strict = true)
      val attributed = j.select(
        when(col("asof_ts").isNotNull &&
          col("p_ts") - col("asof_ts") <= 604800000000L,
          col("touch_type")).otherwise(lit("none")).as("attributed_type"),
        when(col("asof_ts").isNotNull &&
          col("p_ts") - col("asof_ts") <= 604800000000L,
          col("p_ts") - col("asof_ts")).otherwise(lit(0L)).as("delay_us"))
      attributed.groupBy(col("attributed_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("delay_us")).cast("long").as("total_delay_us"))
    }),

    // TRIANGLE COUNTS (llm.Graphs.triangleCounts): exact per-node
    // triangle participation with DEGREE ORIENTATION — every edge
    // points low-degree → high-degree, bounding each node's wedge
    // fan-out by O(√m) so a hub cannot quadratically explode the join
    // (the scale formulation). Graph = arithmetic links + consecutive
    // (i−1, i−2) links, whose sliding triples carry a known triangle
    // per node; each triangle counted once, credited to all 3 corners.
    "llm_triangles" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val base = docs.crossJoin(broadcast(n))
      val edges = base
        .select(col("doc_id").as("src"),
          expr("(doc_id * 7 + 3) % __n").as("dst"))
        .unionByName(docs.filter(col("doc_id") >= 1)
          .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst")))
        .unionByName(docs.filter(col("doc_id") >= 2)
          .select(col("doc_id").as("src"), (col("doc_id") - 2).as("dst")))
      llm.Graphs.triangleCounts(edges, "src", "dst")
        .select(col("id").as("doc_id"), col("n_triangles"))
    }),

    // k-SIGMA ANOMALY DAYS (core.EventAnalytics.sigmaOutliers): which
    // (event_type, day) volumes deviate > 2σ from their type's mean —
    // detected with ZERO floats: (x·n − S)² > k²(n·ΣX² − S²) in
    // DECIMAL(38,0), the pipeline-telemetry monitor that replays
    // bit-identically in any engine (no sqrt/division/doubles).
    "llm_anomaly_days" -> scaled((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      core.EventAnalytics.sigmaOutliers(daily, "event_type", "x", k = 2)
        .select(col("event_type"), col("day"), col("x"), col("dev_n"),
          col("anomalous"))
    }),

    // PERSISTED SKETCH REGISTRY: per-source distinct-user telemetry
    // maintained INCREMENTALLY in the store — each ingest batch folds
    // its own HLL registers into the registry table (bucket-max of
    // old ∪ new: O(sketch size) work per batch, history NEVER
    // rescanned; a store layer must carry its buckets' complete
    // content, so the fold happens at write time). Register max is
    // associative, so the incrementally-maintained registry is EXACTLY
    // the sketch of all data ever seen — the oracle recomputes the
    // full-data registers directly and every column hashes equal.
    "llm_sketch_registry" -> scaled((s, dir) => {
      val store = new core.PersistentGraphStore(s,
        scratchDir("skreg"))
      val users = t(s, dir, "events")
        .select(col("event_type").as("src"),
          col("user_id").cast("string").as("uid"))
      // two ingest batches split by user parity — overlapping sources
      val batch1 = users.filter(col("uid").cast("long") % 2 === 0)
      val batch2 = users.filter(col("uid").cast("long") % 2 =!= 0)
      def fold(batch: DataFrame): Unit = {
        val incoming = llm.Sketches.hllRegisters(batch, "src", "uid")
        val merged = store.read("sketch_registry")
          .map(_.unionByName(incoming)).getOrElse(incoming)
          .groupBy(col("src"), col("bucket"))
          .agg(max(col("reg")).as("reg"))
        store.write("sketch_registry", merged, Seq("src"), full = true)
      }
      fold(batch1)
      fold(batch2)
      val est = llm.Sketches.hllEstimate(
        store.read("sketch_registry").get, "src")
      val exact = users.groupBy(col("src"))
        .agg(countDistinct(col("uid")).as("exact_distinct"))
      est.join(exact, Seq("src"))
    }),

    // CM JOIN-SIZE ESTIMATE (Sketches.cmInnerProduct): predict
    // |events ⋈ purchases| on user_id from two 4×1024 count-min grids
    // — the AGMS inner-product planner probe that sizes a join's
    // output BEFORE shuffling either side's keys. One-sided (hash
    // collisions only add), audited in-row against the exact
    // Σ nA(u)·nB(u).
    "llm_join_estimate" -> scaled((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id").cast("string").as("v"), col("event_type"))
        .localCheckpoint() // two grids + two exact censuses read it
      val a = e.select(col("v"))
      val b = e.filter(col("event_type") === "purchase").select(col("v"))
      val est = llm.Sketches.cmInnerProduct(
        llm.Sketches.countMinCounters(a, "v"),
        llm.Sketches.countMinCounters(b, "v"))
      val exact = a.groupBy(col("v")).agg(count(lit(1)).as("na"))
        .join(b.groupBy(col("v")).agg(count(lit(1)).as("nb")), Seq("v"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).cast("long")
          .as("exact_join_size"))
      est.crossJoin(broadcast(exact))
        .select(col("cm_join_estimate"), col("exact_join_size"),
          (col("cm_join_estimate") >= col("exact_join_size")).as("one_sided"),
          expr("(cm_join_estimate * 1000000) div exact_join_size")
            .as("ratio_micro"))
    }),

    // PAGERANK (llm.Graphs): link authority over a deterministic
    // synthetic hyperlink graph (each doc links to 2-3 arithmetic
    // neighbours) — fixed-point INTEGER ranks (ppb), 8 iterations,
    // bit-identical in any engine. The oracle replays all 8 supersteps
    // as generated materialized CTEs.
    "llm_pagerank" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docGraphEdges(docs)
      llm.Graphs.pageRankPpb(docs, "doc_id", edges, "src", "dst", iters = 8)
    }),

    // COUNT-MIN HEAVY HITTERS (llm.Sketches): word-frequency estimates
    // from a 4×1024 counter grid — constant sketch state, counters merge
    // by addition, estimates one-sided (never undercount). Probes are the
    // exact top-20 so the row audits the overcount directly.
    "llm_heavy_hitters" -> scaled((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(llm.TextOps.words("text")).as("word"))
        .filter(length(col("word")) > 0)
        .localCheckpoint() // two consumers: the grid and the exact top-20
      val counters = llm.Sketches.countMinCounters(words, "word")
      val probes = words.groupBy(col("word"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("word")).limit(20)
      llm.Sketches.countMinLookup(counters, probes.select(col("word")), "word")
        .join(probes, Seq("word"))
        .withColumn("overcount", col("cm_estimate") - col("exact_count"))
    }),

    // BLOOM MEMBERSHIP PRE-GATE (llm.Sketches): 2^16-bit filter over the
    // eval split's content keys, probed by every doc — the 8 KB
    // broadcast gate a decontamination pass runs before any exact join.
    // False positives only; the row reports them against exact
    // membership so the FP contract is auditable.
    "llm_bloom_filter" -> scaled((s, dir) => {
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("ck"))
        .localCheckpoint() // three consumers: eval slice, probes, output join
      val evalKeys = keyed.filter(col("doc_id") % 100 === 0)
        .select(col("ck")).distinct()
      val bloom = llm.Sketches.bloomBuild(evalKeys, "ck")
      val probed = llm.Sketches.bloomProbe(bloom,
        keyed.select(col("ck")).distinct(), "ck")
      keyed.join(probed, Seq("ck"))
        .join(evalKeys.withColumn("in_eval_texts", lit(true)), Seq("ck"), "left")
        .select(col("doc_id"), col("in_bloom").as("flagged"),
          coalesce(col("in_eval_texts"), lit(false)).as("in_eval_texts"))
        .withColumn("false_positive", col("flagged") && !col("in_eval_texts"))
    }),

    // PMI COLLOCATIONS (TextOps.pmiCollocations): top adjacent pairs by
    // the log-free micro-quantized PMI ratio — exact integer ranking,
    // long tail pruned before any join, top-k via TakeOrderedAndProject.
    "llm_pmi_pairs" -> scaled((s, dir) => {
      llm.TextOps.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 3L, topK = 30)
    }),

    // EVENT TRANSITION MATRIX: per-user next-event Markov counts +
    // micro-quantized transition probabilities — one lag window on the
    // high-cardinality user key, then type²-sized aggregates.
    "llm_event_transitions" -> scaled((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val pairs = t(s, dir, "events")
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select(col("user_id"), col("event_type").as("next_type"),
          col("ts_us"), col("event_id"))
        .withColumn("prev_type", lag(col("next_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_transitions"))
      val totals = pairs.groupBy(col("prev_type"))
        .agg(sum(col("n_transitions")).as("n_from"))
      pairs.join(totals, Seq("prev_type"))
        .withColumn("p_micro",
          expr("(n_transitions * 1000000) div n_from"))
        .select(col("prev_type"), col("next_type"), col("n_transitions"),
          col("p_micro"))
    }),

    // POINT-IN-TIME FEATURE SNAPSHOT: the feature-store materialization
    // an as-of join exists for — a (user × day) grid forward-filled with
    // each user's last event state as of end-of-day. One AsOfJoin
    // shuffle; days before a user's first event stay NULL (no future
    // leak). The oracle replays the grid and DuckDB's native ASOF join.
    "llm_feature_snapshot" -> scaled((s, dir) => {
      val e = t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000"))
      val bounds = e.agg(expr("min(ts_us) div 86400000000").as("d0"),
        expr("max(ts_us) div 86400000000").as("d1"))
      val days = bounds.select(explode(sequence(col("d0"), col("d1")))
        .as("day"))
      val grid = e.select(col("user_id")).distinct()
        .crossJoin(broadcast(days))
        .withColumn("eod_us", (col("day") + 1) * 86400000000L - 1)
      core.AsOfJoin.asOfJoin(grid,
          e.select(col("user_id"), col("ts_us"),
            col("event_id").as("last_event_id"),
            col("value").as("last_value")),
          "user_id", "eod_us", "ts_us",
          Seq("last_event_id", "last_value"))
        .select(col("user_id"), col("day"), col("asof_ts"),
          col("last_event_id"), col("last_value"))
    }),

    // EXACT SET-SIMILARITY JOIN (TextOps.prefixFilterNearDups): ALL
    // shingle-Jaccard ≥ 0.5 pairs via prefix filtering — the exact
    // complement of the probabilistic MinHash path; rare-first prefix
    // tokens keep the candidate join skew-free. Oracle is the full
    // brute-force quadratic join, so any missed pair fails the row.
    "llm_set_join" -> scaled((s, dir) => {
      llm.TextOps.prefixFilterNearDups(t(s, dir, "documents"),
        "doc_id", "text", k = 3, tNum = 1L, tDen = 2L)
    }),

    // TRUSTRANK (llm.Graphs.trustRankPpb): personalized PageRank whose
    // teleport mass returns only to a trusted seed whitelist (doc_id %
    // 97 == 0) — authority flows outward from seeds, spam clusters with
    // no seed in-path starve. Same integer-ppb fixed-point arithmetic;
    // oracle replays all 8 supersteps with the seed-scaled teleport.
    "llm_trustrank" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docGraphEdges(docs)
      llm.Graphs.trustRankPpb(docs, "doc_id", edges, "src", "dst",
        docs.filter(col("doc_id") % 97 === 0), iters = 8)
    }),

    // COMMUNITIES (llm.Graphs.labelPropagation): deterministic
    // synchronous LPA over the undirected doc link graph — most-frequent
    // neighbour label, smallest-label tie-break, 4 supersteps; the
    // "template family / mirror farm" clustering signal.
    "llm_communities" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docGraphEdges(docs)
      llm.Graphs.labelPropagation(docs, "doc_id", edges, "src", "dst",
        iters = 4)
    }),

    // SEED DISTANCE (llm.Graphs.bfsDistance): multi-source BFS hop
    // count from the trusted frontier, capped at 4 — the "how far from
    // a whitelisted page" crawl-curation signal; unreached nodes are
    // absent, min over equal paths is order-free.
    "llm_seed_distance" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docGraphEdges(docs)
      llm.Graphs.bfsDistance(edges, "src", "dst",
        docs.filter(col("doc_id") % 97 === 0), "doc_id", maxDepth = 4)
    }),

    // DOMAIN SIMILARITY MATRIX: pairwise cosine between per-label MEAN
    // embeddings — the "which corpus domains overlap semantically" map a
    // mixture planner reads. Counts cancel in the cosine, so mean
    // vectors never materialize: per-label integer SUM vectors (a
    // posexplode partial agg, 10×64 state), native qdot pairwise, one
    // sqrt each (IEEE-exact in both engines).
    "llm_domain_similarity" -> scaled((s, dir) => {
      val e = llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
        .select(col("label").cast("long").as("label"), col("vq"))
      val sums = e.select(col("label"), posexplode(col("vq")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("sv"))
        .groupBy(col("label"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, sv))), x -> x.sv)")
          .as("sv"))
        .withColumn("n2",
          expr("aggregate(sv, 0L, (acc, v) -> acc + v * v)"))
      val cnt = e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      val lab = sums.join(cnt, Seq("label"))
      lab.select(col("label").as("label_a"), col("sv").as("va"),
          col("n2").as("n2a"), col("n_vecs").as("n_a"))
        .crossJoin(broadcast(lab.select(col("label").as("label_b"),
          col("sv").as("vb"), col("n2").as("n2b"), col("n_vecs").as("n_b"))))
        .filter(col("label_a") < col("label_b"))
        .withColumn("dp", plans.QuantizedDot.qdot(col("va"), col("vb")))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          (col("dp").cast("double") /
            (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
            .as("cos"))
    }),

    // SYSTEMATIC PPS SAMPLE (Sampling.ppsSample): exactly-50-pointer
    // weight-proportional sample over the token-count line — bucketed
    // cumsum (no global window), pointer hits counted by inverting the
    // pointer arithmetic, Σ n_hits = 50 exactly, zero randomness
    // beyond the salt.
    "llm_pps_sample" -> scaled((s, dir) => {
      llm.Sampling.ppsSample(
        t(s, dir, "documents").withColumn("w0",
          size(split(lower(col("text")), " ")).cast("long")),
        "doc_id", "w0", n = 50L, salt = "pps:r8")
    }),

    // SCD-2 DIMENSION BUILD (core.Intervals.scd2): collapse the event
    // change log into [valid_from, valid_to) state versions per user —
    // the producer side of the as-of/feature-snapshot joins. Windows
    // are user-partitioned (per-key work only); consecutive duplicate
    // states collapse into one run.
    "llm_scd2_build" -> scaled((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      core.Intervals.scd2(e, "user_id", "ts_us", "event_type", "event_id")
        .select(col("user_id"), col("state"), col("valid_from"),
          col("valid_to"), col("version_n"))
    }),

    // INTERVAL MERGE (core.Intervals.mergeIntervals): coalesce each
    // user's 30-minute activity spans into maximal islands — the
    // running-max island detector that handles nested intervals a
    // lag-only check would split. Per-user windows; integer epoch-us.
    "llm_interval_merge" -> scaled((s, dir) => {
      val iv = t(s, dir, "events")
        .select(col("user_id"),
          expr("ts_ns div 1000").as("lo"),
          expr("ts_ns div 1000 + 1800000000").as("hi"))
      core.Intervals.mergeIntervals(iv, "user_id", "lo", "hi")
        .select(col("user_id"), col("island"), col("lo"), col("hi"),
          col("n_merged"))
    }),

    // PPS → HORVITZ-THOMPSON ESTIMATE: why weighted sampling exists —
    // estimate the corpus's TOTAL CHARACTERS from the 50-pointer PPS
    // sample: Ŷ = (W/n)·Σ n_hits·(y/w), all micro-quantized integer
    // arithmetic (per-doc quotient truncates identically in both
    // engines). ratio_micro audits the estimator against the exact sum.
    "llm_pps_estimate" -> scaled((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("w0", size(split(lower(col("text")), " ")).cast("long"))
        .withColumn("chars", length(col("text")).cast("long"))
        .localCheckpoint() // three consumers: sample, totals, chars join
      val samp = llm.Sampling.ppsSample(docs, "doc_id", "w0",
        n = 50L, salt = "pps:r8")
      val tot = docs.agg(sum(col("w0")).as("__tw"),
        sum(col("chars")).as("exact_total_chars"))
      samp.join(docs.select(col("doc_id"), col("chars")), Seq("doc_id"))
        .agg(sum(expr("n_hits * ((chars * 1000000) div weight)")).as("__c"),
          sum(col("n_hits")).as("n_sampled"))
        .crossJoin(broadcast(tot))
        .select(col("n_sampled"),
          expr("(__tw * __c) div (50 * 1000000)").as("est_total_chars"),
          col("exact_total_chars"))
        .withColumn("ratio_micro",
          expr("(est_total_chars * 1000000) div exact_total_chars"))
    }),

    // RECENCY-DECAYED ACTIVITY SCORE: per-user Σ 2^(30 − age_days) over
    // a 30-day horizon — exponential decay in EXACT shifted integers
    // (power-of-two half-life, no float pow), map-side partial agg.
    "llm_decayed_score" -> scaled((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("day", expr("(ts_ns div 1000) div 86400000000"))
      val mx = e.agg(max(col("day")).as("__maxd"))
      e.crossJoin(broadcast(mx))
        .withColumn("age", col("__maxd") - col("day"))
        .withColumn("contrib", expr(
          """CASE WHEN age <= 30
            |THEN shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))
            |ELSE CAST(0 AS BIGINT) END""".stripMargin))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("contrib")).as("decay_score"))
    }),
  )
}
