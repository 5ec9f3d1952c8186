package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Lineage.{CutOps, fixpoint}

/** Training-data pipeline pack over the driver's `documents`/`embeddings`
  * tables: deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash),
  * similarity search (brute-force + LSH-bucketed ANN), text analysis, and
  * multimodal plumbing.
  *
  * Scale notes (the point of each implementation shape):
  *  - nothing here is all-pairs except inside LSH/shingle buckets — candidate
  *    generation is always a keyed shuffle (shingle, band hash, bucket id);
  *  - exact dedup is one hash-keyed groupBy (map-side partial agg);
  *  - ANN broadcast-joins the small query set against the big corpus.
  */
object LlmQueries {
  import Tables._
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic mix bucket in [0, 1000): THE one definition, used by
    * l16/l17/l18 on the Spark side and (via [[mixBucketSql]]) interpolated
    * into their DuckDB oracles, so the two can never drift bit-wise. All
    * intermediates stay below 2^60, i.e. exact int64 in both engines.
    */
  private def mixBucket(id: Column): Column =
    ((id % 1000003L) * 998244353L + 12345L) % 1000007L % 1000L
  private def mixBucketSql(col: String): String =
    s"(($col % 1000003) * 998244353 + 12345) % 1000007 % 1000"

  /** Distinct word 5-gram shingles per document, as arrays. 5-grams (vs 3)
    * keep the shingle universe large relative to the vocabulary, so document
    * frequencies stay low and candidate joins prune hard even on repetitive
    * corpora; near-identical docs still share ~all shingles.
    *
    * Built with typed map/flatMap rather than `explode(transform(...))`:
    * Catalyst collapses projections into Generate, re-evaluating the
    * generator input per OUTPUT element (O(|s|^2) string builds per doc).
    * The Dataset path computes each shingle exactly once.
    */
  private def shingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, graft.functions.TextOps.wordShingles(t, 5)) }
      .toDF("doc_id", "s")
  }

  /** (doc_id, set size, shingle) posting rows, one pass, no Generate. */
  private def shinglePostings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = graft.functions.TextOps.wordShingles(t, 5)
        sh.iterator.map(x => (id, sh.length, x))
      }
      .toDF("doc_id", "sz", "shingle")
  }

  /** Hot-bucket cap discipline shared by every banded-LSH candidate join
    * (minhash / simhash / image dHash / audio envelope).
    *
    * The graded queries' DuckDB oracles model NO cap, so a cap that binds
    * at gate scale must FAIL LOUDLY, never silently diverge (ADVICE r15):
    * with `failOnDrop` (the graded default) any bucket over `maxBucket`
    * raises through `assert_true` inside the plan. Ratchet / degenerate-
    * corpus runs pass `failOnDrop = false` and get a pure deterministic
    * `k <= maxBucket` filter — no accumulator side effects inside filter
    * UDFs (Spark may re-evaluate them on retries/speculation, so such
    * counts were never exact; a run that wants the dropped count computes
    * it with its own aggregate on the bucket histogram).
    */
  private def capBuckets(counted: DataFrame, maxBucket: Int,
      failOnDrop: Boolean, what: String, countCol: String = "k"): DataFrame =
    if (failOnDrop)
      counted.where(assert_true(col(countCol) <= maxBucket,
        concat(lit(s"$what: LSH bucket over the $maxBucket cap in a graded " +
          "run (oracle models no cap); k="), col(countCol))).isNull)
    else counted.filter(col(countCol) <= maxBucket)

  /** Banded MinHash candidate pairs with a hot-bucket cap.
    *
    * Bucket membership is a keyed self-join on (band, sig) — never a
    * per-bucket `collect_set` array, which would put a whole degenerate
    * bucket on one task. Buckets larger than `maxBucket` (near-duplicate
    * boilerplate floods at corpus scale) bound work at O(maxBucket^2) per
    * bucket under the [[capBuckets]] discipline: graded runs fail loudly
    * if the cap binds, capped runs drop the bucket — docs in a dropped
    * bucket still pair via their other 31 bands.
    */
  def minhashCandidatePairs(docs: DataFrame, maxBucket: Int = 1000,
      failOnDrop: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Typed flatMap: signature computed once per doc (not per emitted band).
    val bands = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val bs = graft.functions.TextOps.minhashBands(
          graft.functions.TextOps.wordShingles(t, 5).toSeq)
        bs.iterator.zipWithIndex.map { case (sig, band) => (id, band, sig) }
      }
      .toDF("doc_id", "band", "sig")
    val counted = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("k"))
      .filter(col("k") > 1)
    val liveBuckets = capBuckets(counted, maxBucket, failOnDrop, "minhash")
      .select(col("band"), col("sig"))
    val kept = bands.join(liveBuckets, Seq("band", "sig"))
    kept.alias("a").join(kept.alias("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
  }

  /** SimHash candidate pairs via Manku multi-block keys (C(8,2)=28
    * block-pair tables, 16-bit keys — see TextOps.simhashBlockKeys for the
    * pigeonhole recall argument at hamming <= 6) with the same hot-bucket
    * cap discipline as [[minhashCandidatePairs]] (see [[capBuckets]]:
    * graded runs fail loudly if the cap binds, capped runs drop the
    * bucket deterministically). Candidates carry both fingerprints so the
    * exact Hamming verify needs no extra join.
    */
  def simhashCandidatePairs(docs: DataFrame, maxBucket: Int = 1000,
      failOnDrop: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Typed flatMap: fingerprint computed once per doc, 28 key rows out.
    val keys = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = graft.functions.TextOps.simhash64(t)
        graft.functions.TextOps.simhashBlockKeys(sh).iterator.zipWithIndex.map {
          case (k, combo) => (id, sh, combo, k)
        }
      }
      .toDF("doc_id", "sh", "combo", "k")
    val counted = keys.groupBy(col("combo"), col("k"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val liveBuckets = capBuckets(counted, maxBucket, failOnDrop, "simhash",
        countCol = "n")
      .select(col("combo"), col("k"))
    val kept = keys.join(liveBuckets, Seq("combo", "k"))
    kept.alias("a").join(kept.alias("b"),
        col("a.combo") === col("b.combo") && col("a.k") === col("b.k") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .distinct()
  }

  val queries: Map[String, Q] = Map[String, Q](
    // Exact dedup: one shuffle keyed on the content hash.
    "l01_exact_dedup" -> ((s, d) =>
      documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_unique"),
        (count(lit(1)) - countDistinct(sha2(col("text"), 256))).as("n_dup_rows"))),

    // Survivor selection (min doc_id per content hash) — the keep-list shape.
    "l02_dedup_survivors" -> ((s, d) =>
      documents(s, d)
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .agg(count(lit(1)).as("n_survivors"), sum(col("keep_id")).as("sum_keep"),
          max(col("n_copies")).as("max_copies"))),

    // EXACT n-gram Jaccard near-dup join with PPJoin-style prefix filtering:
    // rank each doc's shingles rarest-first (global document frequency); if
    // J(a,b) >= t the two docs MUST share a shingle within their prefixes of
    // length |s| - ceil(t*|s|) + 1, so the candidate join runs on rare prefix
    // shingles only — exact result, no hot-shingle blowup, no cartesian.
    "l03_ngram_jaccard_pairs" -> ((s, d) =>
      jaccardPairs(s, d).orderBy(col("ida"), col("idb"))),

    // MinHash-LSH near-dup: 64 minhashes -> 32 banded buckets -> in-bucket
    // candidate pairs -> exact Jaccard verification. Same output as l03
    // (32x2 bands make even j=0.5 candidates ~0.9999 likely, j>=0.8
    // certain to many nines — the exact verify, not band luck, decides);
    // the LSH path scales where the inverted index hits hot-shingle skew.
    "l04_minhash_lsh_dedup" -> ((s, d) => {
      val sh = shingles(s, d)
      // graded run: a binding bucket cap must fail loudly, not silently
      // diverge from the cap-free oracle
      val pairs = minhashCandidatePairs(documents(s, d), failOnDrop = lshFailOnDrop(s))
      val withSets = pairs
        .join(sh.select(col("doc_id").as("ida"), col("s").as("sa")), "ida")
        .join(sh.select(col("doc_id").as("idb"), col("s").as("sb")), "idb")
      withSets
        .withColumn("j", round(size(array_intersect(col("sa"), col("sb"))) /
          size(array_union(col("sa"), col("sb"))).cast("double"), 4))
        .filter(col("j") >= 0.5)
        .select(col("ida"), col("idb"), col("j"))
        .orderBy(col("ida"), col("idb"))
    }),

    // SimHash: 64-bit signatures; candidate pairs from Manku multi-block
    // banding (28 block-pair tables, 16-bit keys — full recall at
    // hamming<=6 by pigeonhole, 32x lower candidate density than single
    // 9-bit chunks) verified by exact Hamming distance. Because recall is
    // total, the output is identical to all-pairs hamming<=6 — the pinned
    // oracle is banding-independent.
    "l05_simhash_pairs" -> ((s, d) =>
      simhashCandidatePairs(documents(s, d), failOnDrop = lshFailOnDrop(s))
        .withColumn("hamming", expr("bit_count(sha ^ shb)"))
        .filter(col("hamming") <= 6)
        .select(col("ida"), col("idb"), col("hamming"))
        .orderBy(col("ida"), col("idb"))),

    // Brute-force cosine top-5 for a small query set: broadcast the queries,
    // stream the corpus once, per-query top-k via keyed window.
    "l06_ann_bruteforce" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val scored = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("score_raw", callUDF("cosine_similarity", col("qvec"), col("embedding")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score_raw").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          round(col("score_raw"), 4).as("score"))
        .orderBy(col("qid"), col("score").desc, col("neighbor_id"))
    }),

    // IVF-style ANN: coarse cells from K deterministic centroids (the
    // first K vectors stand in for a k-means codebook — the quantizer
    // training differs in production, the partition/probe mechanics are
    // identical). Corpus assignment is a broadcast join (K tiny, corpus
    // streamed once); queries probe their nprobe nearest cells and search
    // ONLY those inverted lists via a keyed join — at n vectors and
    // K≈sqrt(n) cells, work per query is nprobe·n/K instead of n.
    "l15_ann_ivf" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val K = 16
      val nprobe = 4
      val emb = embeddings(s, d)
      val cents = emb.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      // nearest-centroid assignment; ties -> lowest centroid id
      val aw = Window.partitionBy(col("vec_id"))
        .orderBy(callUDF("cosine_similarity", col("cvec"), col("embedding")).desc,
          col("cid"))
      val assigned = emb.join(broadcast(cents))
        .withColumn("rn", row_number().over(aw))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val pw = Window.partitionBy(col("qid"))
        .orderBy(callUDF("cosine_similarity", col("cvec"), col("qvec")).desc,
          col("cid"))
      val probes = q.join(broadcast(cents))
        .withColumn("rn", row_number().over(pw))
        .filter(col("rn") <= nprobe)
        .select(col("qid"), col("qvec"), col("cid").as("cell"))
      val scored = assigned.join(probes, Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score_raw",
          callUDF("cosine_similarity", col("qvec"), col("embedding")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score_raw").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          round(col("score_raw"), 4).as("score"))
        .orderBy(col("qid"), col("score").desc, col("neighbor_id"))
    }),

    // LSH-bucketed ANN: random-hyperplane 16-bit buckets; candidates are
    // bucket-mates only (keyed shuffle). Approximate by construction ->
    // rows-only check; the scale path for the l06 baseline.
    "l07_ann_lsh" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val emb = embeddings(s, d)
        .withColumn("bucket", callUDF("lsh_bucket", col("embedding")))
      val q = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("bucket"))
      val cand = emb.join(q, Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", round(callUDF("cosine_similarity", col("qvec"), col("embedding")), 4))
      val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("neighbor_id"), col("score"))
        .orderBy(col("qid"), col("score").desc, col("neighbor_id"))
    }),

    // Embedding-cosine near-dup with metadata blocking: candidate pairs come
    // from a keyed self-join on `label` (never cartesian over the corpus);
    // exact cosine verifies. At 100 TB the blocking key would be an LSH
    // bucket (l07) or coarse cluster id — same plan shape.
    "l11_embedding_neardup" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val e = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
      e.alias("a").join(e.alias("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("score_raw",
          callUDF("cosine_similarity", col("a.embedding"), col("b.embedding")))
        .filter(col("score_raw") >= 0.4)
        .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
          round(col("score_raw"), 4).as("score"))
        .orderBy(col("ida"), col("idb"))
    }),

    // Hard-negative mining for contrastive embedding training (the data
    // op behind retrieval-model fine-tunes): for each anchor, the top-1
    // POSITIVE (most similar vector) and the 3 hardest NEGATIVES — the
    // most similar vectors BELOW a near-duplicate ceiling — i.e. the
    // informative triplets for InfoNCE/triplet losses. Both picks come
    // from windows sharing one anchor-keyed shuffle; the anchor set
    // broadcasts over the corpus (exact brute force at gate scale — at
    // 100 TB candidate generation swaps to the l07/l15 bucketed joins,
    // same downstream shape).
    "l41_hard_negatives" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val emb = embeddings(s, d)
      val anchors = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("aid"), col("embedding").as("avec"))
      val scored = emb.join(broadcast(anchors), col("vec_id") =!= col("aid"))
        .withColumn("raw",
          callUDF("cosine_similarity", col("avec"), col("embedding")))
      val w = Window.partitionBy(col("aid"))
        .orderBy(col("raw").desc, col("vec_id"))
      val pos = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("aid"), lit("pos").as("role"), col("rn").cast("long").as("rnk"),
          col("vec_id").as("cand_id"), round(col("raw"), 4).as("score"))
      val negs = scored.filter(col("raw") < 0.95)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("aid"), lit("neg").as("role"), col("rn").cast("long").as("rnk"),
          col("vec_id").as("cand_id"), round(col("raw"), 4).as("score"))
      pos.unionAll(negs).orderBy(col("aid"), col("role"), col("rnk"))
    }),

    // Winnowing document fingerprint (char 8-gram hashes, window 4, XOR of
    // selected minima): one stable BIGINT per document, the classic
    // copy-detection sketch. Oracle pinned by tools/pin_l12.py (independent
    // Python FNV-1a/winnowing reimplementation). Distributed shape: pure
    // per-row map, no shuffle until the (tiny) projection.
    "l12_winnow_fingerprint" -> ((s, d) => {
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 50) // before the typed map: the predicate
        // cannot cross the DeserializeToObject barrier, and fingerprinting
        // the whole corpus for 50 rows would be pure waste
        .as[(Long, String)]
        .map { case (id, t) => (id, graft.functions.TextOps.winnowFingerprint(t)) }
        .toDF("doc_id", "fp")
        .orderBy(col("doc_id"))
    }),

    // Text statistics: whitespace words + BPE-ish regex tokens per language.
    "l08_text_stats" -> ((s, d) =>
      documents(s, d).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(size(split(col("text"), " "))).as("sum_words"),
        sum(size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))).as("sum_tokens"))
        .orderBy(col("lang"))),

    // Language-ID heuristic + quality scoring, re-derived in SQL by DuckDB.
    "l09_lang_quality" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      documents(s, d)
        .select(callUDF("lang_id", col("text")).as("predicted_lang"),
          callUDF("stopword_ratio", col("text")).as("swr"),
          callUDF("quality_score", col("text")).as("q"))
        .groupBy(col("predicted_lang"))
        .agg(count(lit(1)).as("n"), round(avg(col("swr")), 4).as("avg_stopword_ratio"),
          round(avg(col("q")), 4).as("avg_quality"))
        .orderBy(col("predicted_lang"))
    }),

    // Multimodal: binary image column + batched per-partition REAL decode.
    // Stage 1 synthesizes a deterministic PNG per document (javax.imageio
    // writer); stage 2 decodes it back with javax.imageio's PNG reader —
    // actual zlib inflate + PNG filter reconstruction, not arithmetic on
    // the payload length. PNG is lossless, so the DuckDB oracle recomputes
    // the expected per-channel pixel sums straight from the synthesis
    // formula: a decoder that didn't truly decode could not reproduce them.
    // Between the stages the pixels exist ONLY as encoded PNG bytes in a
    // binary column — the shape a 100 TB image corpus has on disk.
    "l10_image_decode" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageOps
      // The codec stage is CPU-bound (~100 us/image), 1000x heavier per
      // input byte than a text kernel — partition by CORES, not by the
      // (tiny) metadata file layout, or the whole corpus decodes on the
      // one task the single parquet shard plans to (measured: 500k images
      // 90 s -> ~3 s at local[32]). Task count: spark.graft.codec.parallelism.
      val ds = documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        .repartition(codecParallelism(s))
        .as[(Long, Long)]
      val payloads = ds.mapPartitions { it =>
        it.map { case (id, n) =>
          val w = 24 + (n % 5).toInt * 8
          val h = 24 + ((n * 3) % 7).toInt * 4
          (id, ImageOps.synthPng(w, h, id))
        }
      }.toDF("doc_id", "image").as[(Long, Array[Byte])]
      val meta = payloads.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = ImageOps.decode(bytes)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          (id, img.getWidth.toLong, img.getHeight.toLong,
            img.getRaster.getNumBands.toLong, sr, sg, sb)
        }
      }.toDF("doc_id", "width", "height", "channels", "sum_r", "sum_g", "sum_b")
      meta.agg(count(lit(1)).as("n"),
        sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h"),
        sum(col("channels")).as("sum_channels"), sum(col("sum_r")).as("sum_r"),
        sum(col("sum_g")).as("sum_g"), sum(col("sum_b")).as("sum_b"))
    }),

    // Full multimodal pipeline: encode -> REAL decode (javax.imageio) ->
    // REAL nearest-neighbor resize on the decoded raster (fit 40 max dim,
    // integer sampling) -> frame-sample (stride-3 ceil over a synthetic
    // frame count here; l72 does the SAME sampling over a real multi-frame
    // GIF container decode) -> feature-extract (sum of resized luma —
    // depends on every decoded + resampled pixel value). One batched
    // mapPartitions per stage = the vectorized-decoder shape.
    "l13_multimodal_pipeline" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageOps
      // cores-not-bytes partitioning for the decode stage (see l10)
      val ds = documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        .repartition(codecParallelism(s))
        .as[(Long, Long)]
      val payloads = ds.mapPartitions { it =>
        it.map { case (id, n) =>
          val w = 24 + (n % 5).toInt * 8
          val h = 24 + ((n * 3) % 7).toInt * 4
          (id, n, ImageOps.synthPng(w, h, id))
        }
      }.toDF("doc_id", "n", "image").as[(Long, Long, Array[Byte])]
      val media = payloads.mapPartitions { it =>
        it.map { case (id, n, bytes) =>
          val img = ImageOps.resizeFit(ImageOps.decode(bytes), 40)
          var lsum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              lsum += ImageOps.luma(img.getRGB(x, y)); x += 1
            }
            y += 1
          }
          val frames = 1L + n % 15
          (id, img.getWidth.toLong, img.getHeight.toLong, (frames + 2) / 3, lsum)
        }
      }.toDF("doc_id", "rw", "rh", "sampled", "rluma")
      media.agg(count(lit(1)).as("n"),
        sum(col("rw")).as("sum_rw"), sum(col("rh")).as("sum_rh"),
        sum(col("sampled")).as("sum_sampled"), sum(col("rluma")).as("sum_rluma"))
    }),

    // Image near-duplicate detection — the dedup primitive a multimodal
    // training corpus needs: perceptual dHash over REALLY-decoded pixels,
    // then the same banded-LSH discipline as the text near-dup stack (l04):
    // split the 64-bit hash into 4x16-bit bands, candidate pairs share a
    // band bucket (keyed join, never all-pairs), Hamming-confirm <= 6
    // inside buckets only. Corpus construction: groups of four documents
    // share a base pattern; variants differ by one inverted 4x4 block, a
    // local perturbation that moves at most two dHash bits, while distinct
    // groups differ in ~half the bits (the band join's false candidates are
    // killed by the Hamming filter — both behaviors are exercised and the
    // oracle recomputes the truth from the same grid arithmetic, on top of
    // the independent pure-Python PNG decode pin in tools/pin_l67.py).
    "l67_image_neardup" -> ((s, d) =>
      imagePairs(s, d, failOnDrop = lshFailOnDrop(s))
        .orderBy(col("ida"), col("idb"))),

    // Image dedup keep-list — the step after pair generation: connected
    // components over the l67 near-dup pairs (A~B~C must collapse to ONE
    // keeper even when A!~C), keeper = min doc_id per cluster, so the
    // whole image pipeline — decode, dHash, banded LSH, Hamming confirm,
    // CC, keep — is one relational plan end to end. Star contraction, NOT
    // min-label propagation: perceptual-hash near-dup graphs CHAIN (a~b,
    // b~c with a!~c), so component diameters grow with corpus size —
    // min-label (rounds = diameter) hit its round cap at the 100x ratchet
    // (500k docs, 939k pairs, chained components) where the
    // O(log^2 n)-round contraction converges.
    "l68_image_dedup_keep" -> ((s, d) =>
      connectedComponentsStar(imagePairs(s, d, failOnDrop = lshFailOnDrop(s))
        .select(col("ida"), col("idb")))
        .select(col("doc_id"), col("cluster_id").as("keeper"),
          when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L).as("kept"))
        .orderBy(col("doc_id"))),

    // Audio decode gate — the WAV analog of l10. Stage 1 synthesizes a
    // deterministic stereo 16-bit PCM clip per document and encodes it
    // through the JDK WAV codec (AudioSystem.write); stage 2 decodes it
    // back with javax.sound.sampled — actual RIFF/fmt/data parsing and
    // PCM frame extraction, not arithmetic on the payload length. WAV PCM
    // is lossless, so the DuckDB oracle recomputes per-channel sample
    // sums, clipping counts and durations straight from the synthesis
    // formula: a decoder that didn't truly decode could not reproduce
    // them. Between the stages the samples exist ONLY as encoded WAV
    // bytes in a binary column — the shape a crawled audio corpus has on
    // disk. The clipping-ratio filter (keep <= 2.4% clipped samples) is
    // the gate a training-data pipeline runs on crawled audio.
    "l69_audio_decode" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AudioOps
      // cores-not-bytes partitioning for the codec stage (see l10);
      // task count: spark.graft.codec.parallelism
      val ds = documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        .repartition(codecParallelism(s))
        .as[(Long, Long)]
      val payloads = ds.mapPartitions { it =>
        it.map { case (id, n) =>
          val frames = 400 + (n % 7).toInt * 100
          (id, AudioOps.synthWav(frames, id))
        }
      }.toDF("doc_id", "audio").as[(Long, Array[Byte])]
      val meta = payloads.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val clip = AudioOps.decode(bytes)
          var sl = 0L; var sr = 0L; var ncl = 0L
          var i = 0
          while (i < clip.samples.length) {
            val v = clip.samples(i)
            if (i % 2 == 0) sl += v else sr += v
            if (v >= 32000 || v <= -32000) ncl += 1
            i += 1
          }
          (id, clip.sampleRate.toLong, clip.channels.toLong,
            clip.frames.toLong, sl, sr, ncl,
            clip.frames.toLong * 1000 / clip.sampleRate)
        }
      }.toDF("doc_id", "rate", "channels", "frames", "sum_l", "sum_r",
        "n_clipped", "dur_ms")
      meta
        .filter(col("n_clipped") * 10000 <=
          col("frames") * col("channels") * 240)
        .agg(count(lit(1)).as("n"),
          sum(col("frames")).as("sum_frames"),
          sum(col("sum_l")).as("sum_left"),
          sum(col("sum_r")).as("sum_right"),
          sum(col("n_clipped")).as("sum_clipped"),
          sum(col("dur_ms")).as("sum_dur_ms"),
          sum(col("rate")).as("sum_rate"),
          sum(col("channels")).as("sum_channels"))
    }),

    // Audio fingerprint near-dup — the l67 discipline on the time axis:
    // REAL WAV decode -> 65-cell energy envelope (mean |sample| per
    // window) -> adjacent-cell comparison hash (64 bits) -> 4x16-bit
    // banded LSH -> Hamming confirm <= 6. Corpus construction mirrors
    // neardupPng: groups of four share a seed, variants invert ONE
    // window's amplitude (moves at most two envelope bits); distinct
    // groups differ in ~half the bits. The oracle recomputes the truth
    // from the same 1-D grid arithmetic; tools/pin_l69.py pins the WAV
    // bytes with the stdlib `wave` parser as the independent third check.
    "l70_audio_neardup" -> ((s, d) =>
      audioPairs(s, d, failOnDrop = lshFailOnDrop(s))
        .orderBy(col("ida"), col("idb"))),

    // Audio dedup keep-list — the l68 shape for the audio modality:
    // connected components (star contraction) over the l70 near-dup
    // pairs, keeper = min doc_id per cluster, so decode -> fingerprint ->
    // LSH -> Hamming -> CC -> keep is one relational plan end to end for
    // audio too. Graded against the same recursive-CTE truth style.
    "l73_audio_dedup_keep" -> ((s, d) =>
      connectedComponentsStar(audioPairs(s, d, failOnDrop = lshFailOnDrop(s))
        .select(col("ida"), col("idb")))
        .select(col("doc_id"), col("cluster_id").as("keeper"),
          when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L).as("kept"))
        .orderBy(col("doc_id"))),

    // PII scrub — the redaction pass a training pipeline runs before
    // tokenization: emails, phone numbers and IPv4 literals counted and
    // masked with codegen'd regexp_extract_all/regexp_replace (no UDF;
    // regexes stay in the Java∩RE2 dialect subset so Spark and DuckDB
    // agree). The synthetic corpus carries no organic PII, so
    // deterministic spans are injected from doc_id arithmetic — the SAME
    // construction is inlined in the oracle, so the two sides can never
    // drift. Scale shape: map-only over documents; the only exchange is
    // the output sort.
    "l74_pii_scrub" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      val t = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".org"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call +1-202-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string")))
          .otherwise(lit("")))
      documents(s, d).select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(email), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("t"), lit(phone), lit(0)))
            .cast("long").as("n_phone"),
          size(regexp_extract_all(col("t"), lit(ip), lit(0)))
            .cast("long").as("n_ip"),
          octet_length(
            regexp_replace(
              regexp_replace(
                regexp_replace(col("t"), email, "<EMAIL>"),
                phone, "<PHONE>"),
              ip, "<IP>")).cast("long").as("scrub_len"))
        .orderBy(col("doc_id"))
    }),

    // Intra-document repetition quality (the Gopher-style "repetitive
    // document" filter): fraction of duplicate bigrams, top-bigram share
    // and top-word share per doc, integer permille throughout, with the
    // keep decision at dup<=40‰ ∧ top-bigram<=50‰ (splits this corpus
    // ~70/30). One posexplode + per-doc window builds positioned bigrams;
    // both aggregates key on doc_id — at 100 TB this is one corpus-linear
    // shuffle partitioned by document, no cross-doc state.
    "l75_repetition_quality" -> ((s, d) => {
      val w = documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bg = w.select(col("doc_id"),
        concat(col("w"), lit(" "), lead(col("w"), 1).over(win)).as("g"))
      val wc = w.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"), max(col("c")).as("top_w"))
      val gc = bg.filter(col("g").isNotNull)
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct"), max(col("c")).as("top_g"))
      wc.join(gc, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_bigrams"),
          expr("(1000 * (n_bigrams - n_distinct)) div n_bigrams")
            .as("dup_bigram_permille"),
          expr("(1000 * top_g) div n_bigrams").as("top_bigram_permille"),
          expr("(1000 * top_w) div n_words").as("top_word_permille"),
          expr("""CAST(CASE WHEN (1000 * (n_bigrams - n_distinct)) div n_bigrams <= 40
                 AND (1000 * top_g) div n_bigrams <= 50 THEN 1 ELSE 0 END AS BIGINT)""")
            .as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Video frame-sampling — the temporal axis goes REAL: each doc's clip
    // is a multi-frame animated GIF written through the JDK codec's
    // sequence API (256-level identity-gray palette -> lossless), the
    // frame COUNT is read back from the container (getNumImages scans the
    // stream; an in-task assertion pins it to the synthesis truth), every
    // third frame is sampled and its decoded pixels are summed — values
    // the DuckDB oracle recomputes analytically, which LZW-decoded
    // container bytes must reproduce. This replaces the r15 caveat
    // ("video decoders don't exist in this container — the temporal axis
    // stays arithmetic"): frame extraction now decodes a real container.
    "l72_video_frame_sample" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageOps
      val ds = documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        .repartition(codecParallelism(s))
        .as[(Long, Long)]
      val payloads = ds.mapPartitions { it =>
        it.map { case (id, n) =>
          val nf = 4 + (n % 5).toInt
          (id, nf.toLong, ImageOps.synthGif(id, nf))
        }
      }.toDF("doc_id", "nf", "video").as[(Long, Long, Array[Byte])]
      val meta = payloads.mapPartitions { it =>
        it.map { case (id, nf, bytes) =>
          val frames = ImageOps.decodeGif(bytes)
          require(frames.length == nf,
            s"video: container decoded ${frames.length} frames, synthesized $nf (doc $id)")
          var ls = 0L
          var sampled = 0L
          var f = 0
          while (f < frames.length) {
            if (f % 3 == 0) {
              sampled += 1
              val img = frames(f)
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) { ls += img.getRGB(x, y) & 0xff; x += 1 }
                y += 1
              }
            }
            f += 1
          }
          (id, frames.length.toLong, sampled, ls)
        }
      }.toDF("doc_id", "frames", "sampled", "lsum")
      meta.agg(count(lit(1)).as("n"),
        sum(col("frames")).as("sum_frames"),
        sum(col("sampled")).as("sum_sampled"),
        sum(col("lsum")).as("sum_luma"))
    }),

    // JPEG-invariance near-dup gate — closes the daylight between the
    // PNG-only l67 corpus and a JPEG-dominant crawl: every image is
    // decoded from PNG, RE-ENCODED through the JDK JPEG codec (lossy,
    // quality 0.9), decoded AGAIN, and the near-dup pair set is computed
    // from the JPEG-side dHashes — while the oracle derives the truth
    // from the PNG synthesis arithmetic. dHash's whole point is lossy-
    // compression invariance; the corpus quantizes adjacent dHash cells
    // >= 23 gray levels apart (marginBlockValue), so the hash is provably
    // stable when per-cell mean codec error stays under ~11. Measured
    // drift over the gate corpus is ZERO bits on all docs (ImageOpsSpec
    // pins exact equality, and the driver's oracle requires exact hash
    // match) — so the per-doc in-task assertion requires drift == 0: any
    // codec drift fails HERE with a descriptive error instead of
    // surfacing as an opaque oracle hash mismatch.
    "l71_jpeg_invariant_neardup" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageOps
      val ids = documents(s, d).select(col("doc_id"))
        .repartition(codecParallelism(s)).as[Long]
      val hashes = ids.mapPartitions { it =>
        it.map { id =>
          val img = ImageOps.decode(ImageOps.jpegGatePng(id))
          val (phi, plo) = ImageOps.dHash(img)
          // the lossy leg: re-encode the decoded raster as JPEG, decode again
          val jimg = ImageOps.decode(ImageOps.toJpeg(img))
          val (hi, lo) = ImageOps.dHash(jimg)
          val drift = java.lang.Long.bitCount(phi ^ hi) +
            java.lang.Long.bitCount(plo ^ lo)
          require(drift == 0,
            s"image: dHash drifted $drift bits under JPEG recompression (doc $id)")
          (id, hi, lo, Array(lo & 0xffffL, lo >> 16, hi & 0xffffL, hi >> 16))
        }
      }.toDF("doc_id", "hi", "lo", "bands").cut()
      bandedHashPairs(hashes, maxBucket = 1000,
        failOnDrop = lshFailOnDrop(s), maxHamming = 6, what = "jpeg dHash")
        .orderBy(col("ida"), col("idb"))
    }),

    // Duplicate-cluster extraction: connected components over the exact
    // near-dup pairs (the step a dedup pipeline runs after pair
    // generation, so "keep one per cluster" works when A~B~C but A!~C).
    // Min-label propagation with a per-round lineage cut
    // (Lineage.fixpoint): rounds = cluster diameter, which for near-dup
    // clusters is small; at much larger diameters swap in the
    // alternating small-star/large-star contraction (Kiveris et al.) on
    // the same edge DataFrame. Docs in no pair are their own implicit
    // singleton clusters and are not emitted (same as the oracle).
    "l14_dup_clusters" -> ((s, d) =>
      connectedComponents(jaccardPairs(s, d).select(col("ida"), col("idb")))
        .orderBy("doc_id")),

    // Same clusters via star contraction — the O(log^2 n)-round variant
    // for graphs whose component diameter exceeds a sane round budget;
    // graded against the identical recursive-CTE oracle as l14, so the
    // two algorithms are pinned to agree on real pairs.
    "l21_dup_clusters_star" -> ((s, d) =>
      connectedComponentsStar(jaccardPairs(s, d).select(col("ida"), col("idb")))
        .orderBy("doc_id")),

    // Star contraction with RELIABLE cuts (spark.graft.checkpointDir, a
    // file-backed cut per round) — the fault-tolerant configuration a
    // 100 TB CC run needs (the cuts survive executor loss, unlike the
    // default executor-local blocks). The conf is set around the
    // contraction only (every cut is eager in reliable mode) and restored;
    // a directory already set is kept. Same recursive-CTE oracle as
    // l14/l21: both cut modes are pinned to identical clusters.
    "l30_dup_clusters_ckpt" -> ((s, d) => {
      val pairs = jaccardPairs(s, d).select(col("ida"), col("idb"))
      val saved = s.conf.getOption(Lineage.CheckpointDirKey)
      s.conf.set(Lineage.CheckpointDirKey, saved.getOrElse {
        // the returned frame reads the cuts, so they live until JVM exit
        val tmp = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
        QueryTmp.deleteRecursivelyOnExit(tmp)
        tmp.toString
      })
      try connectedComponentsStar(pairs).orderBy("doc_id")
      finally saved.fold(s.conf.unset(Lineage.CheckpointDirKey))(
        s.conf.set(Lineage.CheckpointDirKey, _))
    }),

    // Exact duplicated-SPAN stats (the Lee et al. "Deduplicating Training
    // Data" substring-level shape, vs l01's whole-doc and l03/l04's
    // whole-doc-similarity dedup): per document, how many of its distinct
    // word-8-gram spans also appear in ANOTHER document. One shingle-keyed
    // aggregation + one keyed join back — the span tables shuffle on the
    // span hash, never the document text; no pairwise comparison anywhere,
    // so cost is O(total spans), the property substring dedup needs at
    // corpus scale.
    "l22_span_dedup" -> ((s, d) => {
      import s.implicits._
      // NOT lineage-cut: same trade as l66 — the shingle table is huge
      // but cheap to rebuild (a cut measured 7.6 s vs 3.5 s min at sf1)
      val sh = documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.functions.TextOps.wordShingles(t, 8).iterator.map(g => (id, g))
        }
        .toDF("doc_id", "g")
      // (doc_id, g) pairs are distinct per doc, so count(*) = doc frequency
      val dup = sh.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs") >= 2).select(col("g"))
      val cross = sh.join(dup, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_cross"))
      val tot = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      tot.join(cross, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_cross"), lit(0L)).as("n_cross"),
          round(coalesce(col("n_cross"), lit(0L)).cast("double") / col("n_spans"), 4)
            .as("dup_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Skew-robust exact top-k per group: a single window over
    // partitionBy(lang) routes every row of a dominant language through one
    // task (the classic 100-TB skew killer when one language is 90% of the
    // corpus). Instead, phase 1 ranks within (lang, salt) cells — splitting
    // hot groups 16 ways on a deterministic salt — and phase 2 re-ranks only
    // the <= 16*k survivors per language. Same exact answer, bounded task
    // size regardless of group skew.
    "l23_salted_topk" -> ((s, d) => {
      val k = 5
      val salted = documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          pmod(col("doc_id"), lit(16L)).as("salt"))
      val w1 = Window.partitionBy(col("lang"), col("salt"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val cand = salted.withColumn("r", row_number().over(w1))
        .filter(col("r") <= k)
      val w2 = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      cand.select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rk", row_number().over(w2)).filter(col("rk") <= k)
        .select(col("lang"), col("rk").cast("long").as("rk"),
          col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("rk"))
    }),

    // Exact per-group quantile filtering WITHOUT a global sort: doc lengths
    // first collapse to a per-(lang, n_chars) count table — bounded by the
    // number of distinct lengths, tiny vs the corpus — the cumulative window
    // runs over that small aggregate, and the resulting per-lang p05/p95
    // thresholds broadcast back. The corpus is touched only by one
    // map-side-combinable aggregate and one broadcast join; a naive
    // percent_rank() window would instead sort every row of every language
    // inside single tasks. Thresholds use pure integer arithmetic
    // (ceil(q*tot) as (tot*q+99) div 100) so both engines agree bit-wise.
    "l24_quantile_filter" -> ((s, d) => {
      val docs = documents(s, d)
      val hist = docs.groupBy(col("lang"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      val wt = Window.partitionBy(col("lang"))
      val th = hist
        .withColumn("cum", sum(col("c")).over(wc))
        .withColumn("tot", sum(col("c")).over(wt))
        .withColumn("lo_needed", expr("(tot * 5 + 99) div 100"))
        .withColumn("hi_needed", expr("(tot * 95 + 99) div 100"))
        .groupBy(col("lang"))
        .agg(
          min(when(col("cum") >= col("lo_needed"), col("n_chars"))).as("p05"),
          min(when(col("cum") >= col("hi_needed"), col("n_chars"))).as("p95"))
      docs.join(broadcast(th), "lang")
        .filter(col("n_chars").between(col("p05"), col("p95")))
        .groupBy(col("lang"), col("p05"), col("p95"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Semantic dedup (SemDeDup shape: k-means the embedding space, prune
    // high-cosine pairs WITHIN each cluster — the pairwise work drops from
    // O(n²) to O(Σ cluster²) and every stage is keyed, never cartesian).
    // Distributed Lloyd's: centroids are tiny (K×dim) so assignment is a
    // broadcast join + argmax window; the update is one exploded
    // groupBy(cid, pos) SUM with map-side partial aggregation; the driver
    // only ever touches K×dim numbers. At 100 TB, K grows ∝ n (the paper
    // uses sqrt-ish K to cap cluster size) and the per-iteration plan is
    // unchanged. Everything runs in fixed-point: vectors are unit-normalized
    // then quantized to a 1e-6 integer grid, so distributed sums are exact
    // longs — bit-identical results under any partitioning, pinned by
    // tools/pin_l25.py (independent Python reimplementation).
    "l25_semantic_dedup" -> ((s, d) => {
      val iters = 4
      val tau = 0.4
      // quantized unit vector: q_i = floor(x_i / ||x|| * 1e6 + 0.5)
      val norm = sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, x) => a + x))
      // materialized once: every Lloyd's iteration and the final pairwise
      // prune re-read the quantized vectors (at corpus scale: persist)
      // The corpus size rides along the checkpoint materialization job via
      // observe() — no separate count() pass over the embeddings table
      // (at 100 TB that extra pass is a full scan).
      val nObs = org.apache.spark.sql.Observation()
      val emb = embeddings(s, d)
        .withColumn("q", transform(col("embedding"),
          x => floor(x.cast("double") / norm * 1e6 + 0.5)))
        .select(col("vec_id"), col("q"))
        .observe(nObs, count(lit(1)).as("n"))
        .cut()
      // SemDeDup-style cluster-count scaling: the within-cluster pairwise
      // prune is quadratic in cluster SIZE, so a fixed K turns a 10x corpus
      // into a 100x pair explosion (caught by the r11 sf1 ratchet: 4.5s ->
      // 45s). K ~ sqrt(N) keeps cluster size ~ sqrt(N): assignment N*K and
      // pairwise K*(N/K)^2 both grow ~N^1.5 instead of N^2. Floor of 8
      // preserves the pinned K at the sf0.01 oracle scale (N=200 -> 8).
      val K = math.max(8,
        (math.sqrt(nObs.get("n").asInstanceOf[Long].toDouble) / 3).toInt)
      // native codegen'd integer dot (DotLongExpr) — the zip_with +
      // aggregate formulation allocates an intermediate array per pair,
      // and the pairwise prune below evaluates this millions of times
      def dotq(a: Column, b: Column): Column = callUDF("dot_long", a, b)

      import s.implicits._
      var cents: Array[(Int, Seq[Long])] = emb.filter(col("vec_id") < K)
        .orderBy("vec_id").collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1)) }
      // Map-ONLY nearest-centroid assignment: the K x dim codebook rides
      // into the plan as a literal (the degenerate broadcast), and the
      // argmax over K runs inside one codegen'd expression per row —
      // no join, no window, no shuffle. Ties -> lowest cid, exactly the
      // rule tools/pin_l25.py pins. (A join+window assignment shuffles
      // the corpus K-ways-duplicated EVERY Lloyd's iteration.)
      def assign(cs: Array[(Int, Seq[Long])]): DataFrame = {
        val centsLit = typedLit(cs.toSeq)
        emb.withColumn("best", array_max(transform(centsLit,
            c => struct(dotq(c.getField("_2"), col("q")).as("dot"),
              (lit(0) - c.getField("_1")).as("ncid"),
              c.getField("_1").as("cid")))))
          .select(col("vec_id"), col("q"), col("best.cid").as("cid"))
      }
      (1 to iters).foreach { _ =>
        val sums = assign(cents)
          .select(col("cid"), posexplode(col("q")))
          .groupBy(col("cid"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .collect()
        val byCid = sums.groupBy(_.getInt(0))
        cents = cents.map { case (cid, old) =>
          byCid.get(cid) match {
            case None => (cid, old) // empty cluster keeps its centroid
            case Some(rows) =>
              val n = rows.head.getLong(3)
              val mean = new Array[Double](old.length)
              rows.foreach(r => mean(r.getInt(1)) = r.getLong(2).toDouble / n)
              var m2 = 0.0
              var i = 0
              while (i < mean.length) { m2 += mean(i) * mean(i); i += 1 }
              val mnorm = math.sqrt(m2)
              (cid, mean.toSeq.map(v => math.floor(v / mnorm * 1e6 + 0.5).toLong))
          }
        }
      }
      val a = assign(cents)
      a.alias("a").join(a.alias("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("score_raw", dotq(col("a.q"), col("b.q")) / lit(1e12))
        .filter(col("score_raw") >= tau)
        .groupBy(col("b.vec_id").as("vec_id"))
        .agg(min(struct(col("a.vec_id").as("dup_of"), col("score_raw"))).as("m"))
        .select(col("vec_id"), col("m.dup_of").as("dup_of"),
          round(col("m.score_raw"), 4).as("score"))
        .orderBy(col("vec_id"))
    }),

    // Product quantization (Jégou et al.) — the vector-COMPRESSION half of
    // billion-scale ANN (IVF-PQ): the 64-dim embedding splits into M=4
    // 16-dim subspaces, each learns K=16 centroids by Lloyd's k-means, and
    // every vector compresses to 4 one-byte codes (64x smaller than fp32)
    // plus an exact integer reconstruction error. Runs on the same 1e-6
    // integer grid as l25 so distributed sums are exact longs and results
    // are bit-identical under any partitioning (pinned by the independent
    // Python reimplementation in tools/pin_l35.py). Scale shape: the
    // codebook is M*K*16 numbers — driver/broadcast-sized at ANY corpus
    // scale; assignment is a broadcast join + per-(vec,subspace) window;
    // the update is one exploded groupBy SUM with map-side combine. No
    // stage ever moves the corpus except keyed on (vec_id, m).
    "l35_pq_encode" -> ((s, d) => {
      val codes = pqModel(s, d)._1
        .groupBy(col("vec_id"))
        .agg(
          max(when(col("m") === 0, col("cid"))).as("c0"),
          max(when(col("m") === 1, col("cid"))).as("c1"),
          max(when(col("m") === 2, col("cid"))).as("c2"),
          max(when(col("m") === 3, col("cid"))).as("c3"),
          sum(col("err")).as("err"))
      // per-label summary: count, exact total reconstruction error, and a
      // positional checksum over the code tuples — any change to any code
      // or any centroid moves at least one output cell
      codes.join(embeddings(s, d).select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("err")).as("sum_err"),
          sum(col("c0") + col("c1") * 17L + col("c2") * 289L +
            col("c3") * 4913L).as("code_checksum"))
        .orderBy(col("label"))
    }),

    // PQ asymmetric-distance search (the query half of IVF-PQ): each query
    // precomputes a 16-entry distance TABLE per subspace against the
    // codebook, and every database vector scores as 4 table LOOKUPS summed
    // — no float math per candidate, the trick that makes billion-vector
    // scans memory-bandwidth-bound instead of FLOP-bound. Integer tables
    // on the 1e-6 grid keep every distance exact (pinned by
    // tools/pin_l36.py). Scale shape: tables are |queries|*M*K longs —
    // broadcast; the scan is one broadcast join over the CODES (4 bytes a
    // vector, not 256), one keyed sum, one per-query top-k window.
    "l36_pq_adc_search" -> ((s, d) => {
      val K = 16
      val (codes, cents) = pqModel(s, d)
      import s.implicits._
      // Query set: every 50th vector, capped at maxQueries — query sets
      // are conceptually EXTERNAL, small inputs in ANN serving, so the
      // collect is O(maxQueries * M), never corpus-proportional. (At
      // sf0.01, the driver's grading scale, the cap is not binding: 10
      // queries exist and all 10 are taken, so the pinned oracle holds.)
      val maxQueries = 64L
      val qsubs: Array[(Long, Int, Seq[Long])] =
        codes.filter(col("vec_id") % 50 === 0 &&
            col("vec_id") < lit(50L * maxQueries))
          .select(col("vec_id"), col("m"), col("sub")).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
      val centMap = cents.map { case (m, cid, v) => ((m, cid), v) }.toMap
      val tables = qsubs.map { case (qid, m, sv) =>
        val tbl = (0 until K).map { cid =>
          sv.zip(centMap((m, cid))).map { case (a, b) => (a - b) * (a - b) }.sum
        }
        (qid, m, tbl)
      }.toSeq.toDF("qid", "m", "tbl")
      val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
      codes.select(col("vec_id"), col("m"), col("cid"))
        .join(broadcast(tables), Seq("m"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dpart", element_at(col("tbl"), col("cid") + 1))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("dpart")).as("adist"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), col("adist"))
        .orderBy(col("qid"), col("rank"))
    }),

    // PII redaction — the scrub pass every released corpus runs (emails,
    // phone numbers, IPs -> placeholder tokens). The synthetic corpus has
    // no natural PII, so the gate deterministically injects some first
    // (keyed off doc_id, reproduced verbatim in the DuckDB oracle) and then
    // proves the redaction kernel removes exactly what was planted. Scale
    // shape: injection + three regexp_replace/regexp_count passes are a
    // pure codegen'd map — zero shuffles before the per-lang aggregate;
    // the same plan at 100 TB is embarrassingly parallel.
    "l26_pii_redaction" -> ((s, d) => {
      val injected = documents(s, d).withColumn("t",
        concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-"),
              (lit(1000L) + col("doc_id") % 9000L).cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10."), (col("doc_id") % 256L).cast("string"),
              lit("."), (col("doc_id") % 256L).cast("string"),
              lit("."), (col("doc_id") % 100L).cast("string")))
            .otherwise(lit(""))))
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\b555-[0-9]{4}\\b"
      val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      injected
        .withColumn("n_email", regexp_count(col("t"), lit(emailRe)))
        .withColumn("n_phone", regexp_count(col("t"), lit(phoneRe)))
        .withColumn("n_ip", regexp_count(col("t"), lit(ipRe)))
        .withColumn("red",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("t"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>"),
            ipRe, "<IP>"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("n_emails"),
          sum(col("n_phone")).as("n_phones"),
          sum(col("n_ip")).as("n_ips"),
          sum(length(col("t")) - length(col("red"))).as("chars_removed"))
        .orderBy(col("lang"))
    }),

    // Sequence packing (concat-and-chunk): lay every document's tokens out
    // on one global tape in doc_id order and cut it into fixed 512-token
    // training windows; each doc reports the window its first token lands
    // in. The naive plan is a single global cumulative-sum window — one
    // task sorts the whole corpus. This implementation is the two-level
    // distributed prefix sum: (1) per-block token totals (one map-side-
    // combinable aggregate over blocks of 64 docs — at 100 TB pick 1e5-doc
    // blocks and the block table is ~1e4 rows for 1e9 docs), (2) the
    // cumulative window runs over that tiny block table only, (3) block
    // start offsets broadcast back and a PARALLEL per-block window
    // (partitionBy block) finishes the prefix sum. Identical answers to
    // the naive window (the DuckDB oracle IS the naive window), but no
    // stage ever funnels the corpus through one task.
    "l27_sequence_packing" -> ((s, d) => {
      val budget = 512L
      // Block width scales with corpus size so the block table stays ~1e4
      // rows at any scale (1e9 docs -> 1e5-doc blocks); the decomposition is
      // answer-invariant in the width, so any value gives identical packing.
      val docsDf = documents(s, d)
      val blockWidth = math.max(64L, docsDf.count() / 10000L)
      val toks = docsDf
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("block", (col("doc_id") / blockWidth).cast("long"))
      val blockW = Window.orderBy(col("block"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blockOffsets = toks.groupBy(col("block"))
        .agg(sum(col("tokens")).as("btokens"))
        .withColumn("block_off", sum(col("btokens")).over(blockW) - col("btokens"))
        .select(col("block"), col("block_off"))
      val inW = Window.partitionBy(col("block")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.join(broadcast(blockOffsets), Seq("block"))
        .withColumn("start",
          col("block_off") + sum(col("tokens")).over(inW) - col("tokens"))
        .withColumn("seq_id", expr(s"start div $budget"))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          sum(col("tokens")).as("sum_tokens"))
        .orderBy(col("seq_id"))
    }),

    // Mix-balanced shard assignment (the write-side op that makes every
    // training shard match the corpus's language mix): deterministic
    // round-robin of each language's documents over the shards by global
    // per-language position. The naive definition — row_number() over
    // (PARTITION BY lang ORDER BY doc_id) — funnels each language into
    // ONE task at 100 TB. This is l27's two-level prefix sum instead:
    // per-(lang, block) counts, cumsum over the tiny block-totals table,
    // offsets broadcast back, and a (lang, block)-keyed window for the
    // within-block position — thousands of parallel small sorts, answer
    // identical to the naive definition (the oracle states the naive
    // form; block width is answer-invariant).
    "l42_balanced_shards" -> ((s, d) => {
      val nShards = 8L
      val docsDf = documents(s, d)
      val blockWidth = math.max(64L, docsDf.count() / 10000L)
      val docs = docsDf.select(col("doc_id"), col("lang"))
        .withColumn("block", (col("doc_id") / blockWidth).cast("long"))
      val wb = Window.partitionBy(col("lang")).orderBy(col("block"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = docs.groupBy(col("lang"), col("block"))
        .agg(count(lit(1)).as("n"))
        .withColumn("off", sum(col("n")).over(wb) - col("n"))
        .select(col("lang"), col("block"), col("off"))
      val wi = Window.partitionBy(col("lang"), col("block"))
        .orderBy(col("doc_id"))
      docs.join(broadcast(offsets), Seq("lang", "block"))
        .withColumn("pos", col("off") + row_number().over(wi) - 1)
        .withColumn("shard", col("pos") % nShards)
        .groupBy(col("shard"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("shard"), col("lang"))
    }),

    // Tokenize-then-pack, end to end: the l39 BPE encoder's per-word token
    // counts feed l27's two-level prefix-sum packer — the actual
    // pretraining materialization step (real tokenizer counts, not
    // whitespace proxies). Corpus cost stays two keyed passes: one
    // explode + broadcast join + per-doc aggregate for token totals, one
    // block-keyed window for pack offsets; the merge learning and the
    // block cumsum never touch document text. Pinned by tools/pin_l43.py
    // (independent Python BPE + packer).
    "l43_tokenize_pack" -> ((s, d) => {
      val budget = 512L
      val (vocab, _) = bpeLearnMerges(bpeWordVocab(s, d), rounds = 8)
      val wordTok = vocab.select(col("word"),
        size(col("syms")).cast("long").as("w_tokens"))
      val docsDf = documents(s, d)
      val blockWidth = math.max(64L, docsDf.count() / 10000L)
      val docToks = docsDf
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(wordTok), Seq("word"))
        .groupBy(col("doc_id")).agg(sum(col("w_tokens")).as("tokens"))
        .withColumn("block", (col("doc_id") / blockWidth).cast("long"))
      val blockW = Window.orderBy(col("block"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blockOffsets = docToks.groupBy(col("block"))
        .agg(sum(col("tokens")).as("btokens"))
        .withColumn("block_off", sum(col("btokens")).over(blockW) - col("btokens"))
        .select(col("block"), col("block_off"))
      val inW = Window.partitionBy(col("block")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val seqs = docToks.join(broadcast(blockOffsets), Seq("block"))
        .withColumn("start",
          col("block_off") + sum(col("tokens")).over(inW) - col("tokens"))
        .withColumn("seq_id", expr(s"start div $budget"))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("docs"), sum(col("tokens")).as("toks"))
      seqs.agg(count(lit(1)).as("n_seqs"), sum(col("docs")).as("n_docs"),
        sum(col("toks")).as("sum_tokens"),
        max(col("docs")).as("max_docs_per_seq"),
        sum(col("seq_id") * col("docs")).as("seq_checksum"))
    }),

    // Vocabulary growth curve (Heaps'-law diversity audit — is the corpus
    // still contributing NEW content, or has collection saturated?): docs
    // bucket by id, each distinct shingle attributes to its FIRST bucket
    // (one shingle-keyed min aggregate — the only corpus-sized step), and
    // the cumulative curve is a cumsum over the tiny per-bucket table.
    // The corpus never enters a window.
    "l45_vocab_growth" -> ((s, d) => {
      val width = 50L
      val firsts = shinglePostings(s, d)
        .select(col("shingle"), expr(s"doc_id div $width").as("bucket"))
        .groupBy(col("shingle")).agg(min(col("bucket")).as("fb"))
      val perBucket = firsts.groupBy(col("fb").as("bucket"))
        .agg(count(lit(1)).as("new_shingles"))
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBucket
        .withColumn("cum_vocab", sum(col("new_shingles")).over(w))
        .orderBy(col("bucket"))
    }),

    // Cross-source duplicate overlap matrix (the dedup REPORT that tells
    // you which sources copy from each other, driving crawl dedup
    // priorities): exact near-dup pairs from the PPJoin-pruned candidate
    // join (l03's machinery — never all-pairs), attributed to sources by
    // two doc-keyed joins, rolled up per unordered source pair.
    "l46_source_overlap" -> ((s, d) => {
      val src = documents(s, d).select(col("doc_id"), col("source"))
      jaccardPairs(s, d).select(col("ida"), col("idb"))
        .join(src.withColumnRenamed("doc_id", "ida")
          .withColumnRenamed("source", "sa"), Seq("ida"))
        .join(src.withColumnRenamed("doc_id", "idb")
          .withColumnRenamed("source", "sb"), Seq("idb"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Epoch upsampling (LLaMA-style data mixing): each language's target
    // char budget divided by its corpus size gives a fractional epoch
    // count; every doc repeats floor(epochs) times and the fractional
    // remainder is realized by the deterministic permille bucket (same
    // arithmetic hash as l16/l17, bit-equal in both engines) — so reruns,
    // repartitions and engines all pick the SAME extra copies. All the
    // epoch math is integer (div / % / permille), never float. Plan: one
    // tiny per-lang table broadcast back, then a single keyed aggregate;
    // the write-side materialization is explode(sequence(1, copies)) —
    // audited here pre-materialization so the answer stays exact.
    "l44_epoch_upsampling" -> ((s, d) => {
      import s.implicits._
      val targets = Seq(("en", 60000L), ("zh", 50000L), ("de", 40000L),
        ("fr", 30000L), ("es", 20000L)).toDF("lang", "target")
      val plan = documents(s, d).groupBy(col("lang"))
        .agg(sum(col("n_chars")).as("sz"))
        .join(targets, Seq("lang"))
        .withColumn("full", expr("target div sz"))
        .withColumn("fp", expr("((target % sz) * 1000) div sz"))
        .select(col("lang"), col("full"), col("fp"))
      documents(s, d)
        .join(broadcast(plan), Seq("lang"))
        .withColumn("copies", col("full") +
          when(mixBucket(col("doc_id")) < col("fp"), 1L).otherwise(0L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_source_docs"),
          sum(col("copies")).as("n_upsampled"),
          sum(col("n_chars") * col("copies")).as("chars_upsampled"),
          sum(col("doc_id") * col("copies")).as("mix_checksum"))
        .orderBy(col("lang"))
    }),

    // Keyword extraction (tokenizer-prep / corpus indexing shape): per-doc
    // top-3 salient words ranked by (tf desc, df asc, word) — the integer
    // TF-IDF ordering (high in-doc frequency, rare across docs), with the
    // lexicographic tiebreak making ranks exact in both engines. Scale
    // shape: explode -> one (doc, word) aggregate (map-side combine), df
    // is a vocabulary-sized aggregate broadcast back, and the top-3 window
    // partitions BY DOC — thousands of parallel tiny sorts, never a global
    // one. Output is the vocabulary-bounded keyword histogram.
    "l28_keyword_extract" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("word"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("word").asc)
      tf.join(broadcast(df), Seq("word"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_docs_keyword"), sum(col("tf")).as("sum_tf"))
        .orderBy(col("word"))
    }),

    // Incremental corpus dedup (the 100 TB ingest shape): a NEW batch is
    // deduplicated against the existing corpus WITHOUT joining the corpus
    // in full. Phase 1 builds a Bloom filter over the corpus content-hashes
    // (one scan, merged and broadcast — at scale this sketch is persisted
    // with the snapshot and only UPDATED per ingest). Phase 2 splits the
    // batch: bloom MISSES are definitely new and never reach a join; only
    // bloom HITS (true dups + ~1% false positives) go to the exact-confirm
    // anti-join. Work joined is O(|dups| + eps*|batch|), not O(|corpus|) —
    // re-ingesting a day of data never rescans the lake. The batch overlaps
    // the corpus (doc_id 200-299) to model a re-delivered chunk.
    "l29_incremental_dedup" -> ((s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("h"))
      val corpus = docs.filter(col("doc_id") < 300)
      val batch = docs.filter(col("doc_id") >= 200)
      // Size the sketch from the actual corpus count (count() is a cheap
      // metadata/aggregate pass) so FPP holds at any corpus scale instead
      // of silently degrading past a hardcoded capacity.
      val corpusN = math.max(corpus.count(), 1000L)
      val bfB = s.sparkContext.broadcast(
        corpus.stat.bloomFilter("h", corpusN, 0.01))
      val mightContain = udf((h: String) => bfB.value.mightContainString(h))
      val definitelyNew = batch.filter(!mightContain(col("h")))
      val confirmedNew = batch.filter(mightContain(col("h")))
        .join(corpus.select(col("h")).distinct(), Seq("h"), "left_anti")
      definitelyNew.unionByName(confirmedNew)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    }),

    // Bigram-LM perplexity scoring (the KenLM-shaped quality signal real
    // curation stacks rank documents by): train an un-smoothed bigram MLE
    // model ON the corpus — P(w2|w1) = c(w1,w2)/c(w1·) — in two keyed
    // aggregates, then score every document's mean negative log-likelihood.
    // Scale shape: documents decompose to bigrams by a codegen'd map (no
    // text ever shuffles); count tables are map-side-combined aggregates;
    // scoring is two KEYED joins — the bigram table is corpus-vocabulary-
    // sized at 100 TB, so it shuffles on its key, never broadcasts. Zero
    // probabilities cannot occur (the model is trained on the scored
    // corpus), so no smoothing branch is needed.
    "l31_bigram_perplexity" -> ((s, d) => {
      val bg = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] as w1, w[i+1] as w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("cnt1"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(-avg(log(col("c12").cast("double") / col("cnt1"))), 6).as("nll"))
        .orderBy(col("doc_id"))
    }),

    // Fixed-size deterministic global sample (eval-holdout carve-out): the
    // k documents with the smallest arithmetic-hash value, ties broken by
    // doc_id — reproducible across engines/runs and stable under
    // repartitioning, unlike rng sample(). Scale shape: ORDER BY + LIMIT
    // plans as TakeOrderedAndProject — per-partition top-k heaps then a
    // k-row merge, the corpus is NEVER globally sorted (PlanAuditSpec
    // asserts the shape).
    "l32_deterministic_sample" -> ((s, d) =>
      documents(s, d)
        .withColumn("h", (col("doc_id") * 998244353L + 12345L) % 1000000007L)
        .orderBy(col("h"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Leakage-free train/test split: near-dup CLUSTERS (not documents) are
    // the split unit, so no near-duplicate pair ever straddles train/test
    // — the contamination-safe eval carve-out. Composes the CC labels
    // (same pairs as l14; docs in no pair are their own singleton cluster)
    // with a deterministic hash split on the CLUSTER id; max_parts proves
    // no cluster straddles. Scale shape: CC as proven in l14/l21, one
    // keyed label join, then a pure map — the split itself shuffles
    // nothing.
    "l33_leakage_free_split" -> ((s, d) => {
      val labels = connectedComponents(
        jaccardPairs(s, d).select(col("ida"), col("idb")))
      val labeled = documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("part",
          when((col("cluster") * 998244353L + 12345L) % 1000000007L % 10L < 2L,
            "test").otherwise("train"))
      // Both outputs used to consume `labeled` directly — two corpus-sized
      // pipelines (join + countDistinct Expand each). One (cluster, part)
      // aggregate is the common core: per-part docs/chars are sums over it,
      // n_clusters and the straddle count are plain row counts over it
      // (its rows ARE the distinct (cluster, part) set). The corpus is
      // joined and aggregated ONCE; the cut frame is cluster-sized.
      val perCP = labeled.groupBy(col("cluster"), col("part"))
        .agg(count(lit(1)).as("nd"), sum(col("n_chars")).as("sc"))
        .cut()
      val straddle = perCP.groupBy(col("cluster"))
        .agg(count(lit(1)).as("np"))
        .agg(max(col("np")).as("max_parts_per_cluster"))
      perCP.groupBy(col("part"))
        .agg(sum(col("nd")).as("n_docs"),
          count(lit(1)).as("n_clusters"),
          sum(col("sc")).as("sum_chars"))
        .crossJoin(straddle)
        .orderBy(col("part"))
    }),

    // Sub-document dedup at chunk granularity (the CCNet paragraph-dedup
    // shape — here the unit is a fixed non-overlapping 10-word chunk since
    // the synthetic corpus has no paragraph breaks): every chunk keeps one
    // global survivor (min doc_id), and each document reports how much of
    // it survives. Unlike l22 (overlapping span STATS), this picks
    // survivors — the retained-corpus computation. Scale shape: chunks are
    // produced by a codegen'd map, deduped by ONE chunk-keyed aggregate
    // (map-side combine), and attributed back by one keyed join — cost is
    // O(total chunks), no pairwise comparison, no text shuffle beyond the
    // chunk rows themselves.
    "l34_chunk_dedup" -> ((s, d) => {
      val ch = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, cast(ceil(size(w) / 10.0) as int) - 1)," +
            " i -> array_join(slice(w, i * 10 + 1, 10), ' '))")).as("chunk"))
      // windowed min instead of groupBy + join back on chunk (§2.1 idiom):
      // the survivor table is chunk-count-sized, so the join shuffled both
      // sides; the window pays one exchange of the chunk rows
      ch.withColumn("keeper",
          min(col("doc_id")).over(Window.partitionBy(col("chunk"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("keeper") === col("doc_id"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("doc_id"))
    }),

    // Importance weighting for domain-targeted data selection (the DSIR
    // shape, Xie et al.: rank source documents by how target-like their
    // unigram distribution is). A smoothed log-likelihood-ratio table is
    // built over the vocabulary — ln of add-one-smoothed P_target(w) /
    // P_source(w), with the 'en' slice standing in for the target domain —
    // and every document scores as the sum of its tokens' log-ratios.
    // Scale shape: two vocabulary aggregates (map-side combine), the
    // ratio table is VOCAB-sized so Catalyst's stats broadcast it, and
    // scoring is one keyed join + per-doc aggregate — the corpus text
    // never shuffles, only (doc_id, token) pairs.

    "l37_importance_weights" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      val srcCnt = toks.groupBy(col("w")).agg(count(lit(1)).as("cs"))
      val tgtCnt = toks.filter(col("lang") === "en")
        .groupBy(col("w")).agg(count(lit(1)).as("ct"))
      val vocab = srcCnt.join(tgtCnt, Seq("w"), "left").na.fill(0L, Seq("ct"))
      val totals = vocab.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tt"),
        count(lit(1)).as("v"))
      val ratio = vocab.crossJoin(broadcast(totals))
        .withColumn("logr",
          log((col("ct") + 1.0) / (col("tt") + col("v")) *
            ((col("ts") + col("v")) / (col("cs") + 1.0))))
        .select(col("w"), col("logr"))
      toks.join(ratio, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), round(sum(col("logr")), 6).as("logw"))
        .orderBy(col("doc_id"))
    }),

    // BPE merge induction (tokenizer training, Sennrich et al.): learn the
    // first merges of a byte-pair-encoding vocabulary from the corpus.
    // The ONLY corpus-sized operation is the word-frequency aggregate;
    // every merge round then works on the VOCABULARY table (Zipf-bounded,
    // tiny relative to the corpus at any scale): explode adjacent symbol
    // pairs weighted by word freq, aggregate, take the argmax (ties to the
    // lexicographically smaller pair), and rewrite symbol arrays with a
    // greedy left-to-right fold — a pure codegen'd higher-order function,
    // no UDF. Pinned by tools/pin_l38.py (independent Python BPE).
    "l38_bpe_merges" -> ((s, d) => {
      val (_, merges) = bpeLearnMerges(bpeWordVocab(s, d), rounds = 3)
      import s.implicits._
      merges.toDF("round", "pair", "cnt").orderBy(col("round"))
    }),

    // BPE encoding (tokenizer application): learn 8 merges as in l38,
    // then ENCODE the corpus with them and report per-language token
    // statistics — the compression number a tokenizer-training run is
    // actually judged on. The key scale property: encoding never touches
    // document text again. The merge fold runs on the VOCABULARY table
    // (Zipf-bounded), the per-word token/char counts are broadcast, and
    // the corpus is touched by exactly one explode + broadcast join +
    // keyed aggregate — so a 100 TB corpus costs one pass regardless of
    // merge count. chars_per_token_permille is an exact integer divide
    // (floor of chars*1000/tokens), engine-independent by construction.
    // Pinned by tools/pin_l39.py (independent Python BPE encoder).
    "l39_bpe_encode" -> ((s, d) => {
      val (vocab, _) = bpeLearnMerges(bpeWordVocab(s, d), rounds = 8)
      val wordStats = vocab.select(col("word"),
        size(col("syms")).cast("long").as("w_tokens"),
        length(col("word")).cast("long").as("w_chars"))
      documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(wordStats), Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("w_tokens")).as("n_tokens"),
          sum(col("w_chars")).as("n_chars"))
        .withColumn("chars_per_token_permille",
          expr("(n_chars * 1000) div n_tokens"))
        .orderBy(col("lang"))
    }),

    // WordPiece-style tokenizer induction by maximum-matching hard-EM
    // (the E-step is the exact min-piece segmentation DP that fast
    // WordPiece tokenizers linearize): seed the piece inventory with the
    // corpus's most frequent substrings (len <= 4), then alternate
    // segment -> re-count usage -> prune, keeping every single character
    // so words always stay segmentable. Scoring is ALL-INTEGER (min
    // piece count, ties by max summed piece frequency, then by longest
    // trailing piece), so the fixpoint is engine-exact with no float
    // drift. Scale shape: the corpus is touched ONLY by the shared
    // word-frequency aggregate; seeding, the DP (a codegen'd aggregate
    // fold, no UDF), and pruning all run on the Zipf-bounded VOCABULARY
    // table, and the <= ~60-entry piece inventory rides along as a map
    // literal (at a real vocab scale it becomes a broadcast join — same
    // plan shape). Pinned by tools/pin_l40.py (independent Python DP).
    "l40_tokenizer_maxmatch" -> ((s, d) => {
      val maxLen = 4; val seedMulti = 40; val keepMulti = 24
      val vocab = bpeWordVocab(s, d)
        .filter(col("word") =!= "").cut()
      // substring seed counts, weighted by word frequency — stays a
      // DataFrame: the piece inventory never visits the driver. It is
      // folded into a ONE-ROW map column (map_from_entries over the
      // ranked inventory) and rides onto the vocab via a broadcast
      // cross join, so the same plan shape holds at a real vocab scale.
      val subCnt = vocab.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, size(syms)),
           |  i -> transform(sequence(i, least(size(syms), i + ${maxLen - 1})),
           |    j -> array_join(slice(syms, i, j - i + 1), ''))))""".stripMargin))
          .as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .cut()
      // Spark's length() counts codepoints (UTF8String.numChars), matching
      // the single-codepoint test; singles are always kept segmentable.
      val singlesDf = subCnt.filter(length(col("piece")) === 1)
        .select(col("piece")).cut()
      // Rank multi-char pieces by (count desc, piece asc) and keep topN,
      // plus every single char (usage 0 if unused). The global window runs
      // on the PIECE table (Zipf-bounded), never the corpus.
      def inventoryPm(counts: DataFrame, topN: Int): DataFrame = {
        val multi = counts.join(singlesDf, Seq("piece"), "left_anti")
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cnt").desc, col("piece"))))
          .filter(col("rk") <= topN)
          .select(col("piece"), col("cnt"))
        val sing = singlesDf.join(counts, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        sing.unionByName(multi)
          .agg(map_from_entries(collect_list(struct(col("piece"), col("cnt"))))
            .as("pm"))
      }
      var pmDf = inventoryPm(subCnt, seedMulti)
      var usage: DataFrame = null
      (1 to 2).foreach { _ =>
        usage = vocab.crossJoin(broadcast(pmDf))
          .withColumn("best", expr(maxMatchSegExpr(maxLen)))
          .select(col("freq"), explode(col("best.seg")).as("piece"))
          .groupBy(col("piece")).agg(sum(col("freq")).as("used"))
          .cut()
        pmDf = inventoryPm(usage.withColumnRenamed("used", "cnt"), keepMulti)
      }
      usage.orderBy(col("used").desc, col("piece")).limit(10)
    }),

    // Deterministic stratified sampling (training-mix ratios): keep a
    // per-language permille of documents chosen by an arithmetic hash of
    // doc_id — reproducible across engines and runs (unlike rng-based
    // sample()), stable under re-partitioning, and resumable: re-running
    // the pipeline keeps exactly the same subset. Pure map + broadcast
    // join, no shuffle before the final aggregate.
    "l16_stratified_sample" -> ((s, d) => {
      import s.implicits._
      val rates = Seq(("en", 500L), ("zh", 300L), ("de", 250L),
        ("fr", 200L), ("es", 100L)).toDF("lang", "keep_permille")
      documents(s, d)
        .withColumn("bucket", mixBucket(col("doc_id")))
        .join(broadcast(rates), Seq("lang"))
        .filter(col("bucket") < col("keep_permille"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    }),

    // Token-budget data mixing: fill a per-language char budget by taking
    // whole hash buckets in bucket order until the running total would
    // exceed the budget. Two-level so it scales: the cumulative-sum window
    // runs over per-(lang, bucket) TOTALS — at most langs x 1000 rows no
    // matter the corpus size — and the corpus itself is only touched by a
    // map (bucket assignment) and a broadcast semi-join against the kept
    // buckets. A doc-granular window (partitionBy lang ORDER BY bucket
    // over every row) would shuffle the whole corpus onto one task per
    // language; bucket granularity trades <=1 bucket of budget slack for
    // a plan with no skewed shuffle at all.
    "l17_token_budget_mix" -> ((s, d) => {
      import s.implicits._
      val budgets = Seq(("en", 60000L), ("zh", 40000L), ("de", 30000L),
        ("fr", 20000L), ("es", 10000L)).toDF("lang", "budget")
      val bucketed = documents(s, d)
        .withColumn("bucket", mixBucket(col("doc_id")))
      val bucketTotals = bucketed.groupBy(col("lang"), col("bucket"))
        .agg(sum(col("n_chars")).as("bchars"))
      val w = Window.partitionBy(col("lang")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val keptBuckets = bucketTotals
        .withColumn("cum", sum(col("bchars")).over(w))
        .join(budgets, Seq("lang"))
        .filter(col("cum") <= col("budget"))
        .select(col("lang"), col("bucket"))
      bucketed.join(broadcast(keptBuckets), Seq("lang", "bucket"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // End-to-end curation funnel — the composition a real corpus build
    // runs: quality gate -> exact dedup (survivor = min doc_id) ->
    // deterministic stratified mix; one row of per-stage counts for
    // shrinkage accounting. Each stage is the scale shape proven
    // individually (codegen'd filter, one keyed shuffle, broadcast rate
    // join); the funnel proves they compose without re-materializing.
    "l18_curation_funnel" -> ((s, d) => {
      import s.implicits._
      graft.GraftSession.registerAll(s)
      val docs = documents(s, d)
      // Each stage is materialized once (stage outputs in a real corpus
      // build are written between steps anyway); without the cut, the four
      // count subtrees would re-scan the parquet and re-run the quality
      // UDF per counter. Only (doc_id, lang) survives the quality stage —
      // text is dropped after the dedup key is computed.
      val q = docs.filter(callUDF("quality_score", col("text")) >= 0.5)
        .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("h"))
        .cut()
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val ded = q.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"))
        .cut()
      val rates = Seq(("en", 500L), ("zh", 300L), ("de", 250L),
        ("fr", 200L), ("es", 100L)).toDF("lang", "keep_permille")
      val mixed = ded
        .withColumn("bucket", mixBucket(col("doc_id")))
        .join(broadcast(rates), Seq("lang"))
        .filter(col("bucket") < col("keep_permille"))
      docs.agg(count(lit(1)).as("n_raw"))
        .crossJoin(q.agg(count(lit(1)).as("n_quality")))
        .crossJoin(ded.agg(count(lit(1)).as("n_dedup")))
        .crossJoin(mixed.agg(count(lit(1)).as("n_mixed")))
    }),

    // Benchmark decontamination: flag corpus documents sharing any word
    // 8-gram with an eval-set document (here: doc_id % 7 == 0 stands in
    // for the benchmark suite) — the standard pre-training hygiene pass.
    // Scale shape: the eval side is SMALL by construction (benchmark
    // suites are fixed), so its posting list broadcasts and the corpus is
    // touched by one flatMap + broadcast-hash join — no shuffle of corpus
    // text at all. 8-grams (vs the dedup pack's 5) keep the match
    // precision high enough that a hit means real contamination.
    "l19_decontamination" -> ((s, d) => {
      import s.implicits._
      // Filter BEFORE the opaque flatMap (the l54 lesson): a doc_id filter
      // after a typed flatMap cannot push down, so both branches used to
      // shingle the whole corpus; pre-filtered branches split it instead.
      def postsOf(part: DataFrame): DataFrame = part
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.functions.TextOps.wordShingles(t, 8).iterator.map(sh => (id, sh))
        }
        .toDF("doc_id", "sh")
      val docs = documents(s, d)
      val evalPosts = postsOf(docs.filter(col("doc_id") % 7 === 0))
        .select(col("sh"), col("doc_id").as("eval_id"))
      postsOf(docs.filter(col("doc_id") % 7 =!= 0))
        .join(broadcast(evalPosts), "sh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_shared"),
          min(col("eval_id")).as("first_eval_id"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition quality: per-document word-2-gram repetition
    // (duplicate fraction + most-frequent-2-gram fraction), aggregated per
    // language with a flag count at dup_frac > 0.1. Pure typed map (one
    // counting pass per doc, no shuffle of text) + one tiny keyed agg —
    // the corpus-scale shape for any per-doc quality signal.
    "l20_repetition_filter" -> ((s, d) => {
      import s.implicits._
      val stats = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (_, lang, t) =>
          val (n, dup, top) = graft.functions.TextOps.repetitionStats(t)
          (lang, n, dup, top)
        }
        .toDF("lang", "n", "dup", "top")
        .filter(col("n") > 0)
        .withColumn("dup_frac", col("dup").cast("double") / col("n"))
        .withColumn("top_frac", col("top").cast("double") / col("n"))
      stats.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup_frac") > 0.1, 1L).otherwise(0L)).as("n_flagged"),
          round(avg(col("dup_frac")), 4).as("avg_dup_frac"),
          round(avg(col("top_frac")), 4).as("avg_top_frac"))
        .orderBy(col("lang"))
    }),

    // Intra-document repeated-span scrub (Rae et al.'s within-doc dedup,
    // the fix for what l20 only measures): every token 3-gram occurrence
    // after its first WITHIN the same doc marks its 3 tokens for removal;
    // overlapping marks merge by the classic sorted-interval union (sum of
    // min(3, gap) via one lead() window). Scale shape: trigrams come from
    // a codegen'd transform/explode map; "first occurrence" is ONE
    // (doc,gram)-keyed aggregate with map-side combine; the interval union
    // is a doc-keyed window bounded by doc length — the corpus text itself
    // never shuffles, only (doc_id, position) pairs do.
    "l47_intradoc_scrub" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val tri = toks.filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w) - 3)," +
            " i -> struct(i as i, concat_ws(' ', w[i], w[i+1], w[i+2]) as g))")).as("t"))
        .select(col("doc_id"), col("t.i").as("i"), col("t.g").as("g"))
      // min() OVER the (doc_id, g) partition instead of groupBy + join back
      // on the same key: one exchange of the trigram rows instead of an
      // aggregate exchange plus a join (the §2.1 windowed-min idiom)
      val wg = Window.partitionBy(col("doc_id"), col("g"))
      val dups = tri.withColumn("i0", min(col("i")).over(wg))
        .filter(col("i") > col("i0"))
        .select(col("doc_id"), col("i"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val scrub = dups
        .withColumn("nxt", lead(col("i"), 1).over(w))
        .withColumn("cov", when(col("nxt").isNull, 3L)
          .otherwise(least(lit(3L), col("nxt") - col("i"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_spans"), sum(col("cov")).as("n_removed"))
      toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
        .join(scrub, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_dup_spans", "n_removed"))
        .withColumn("kept_permille",
          expr("(n_tokens - n_removed) * 1000 div n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Taxonomy tagging (the data-mixing labeler: tag every document with
    // its dominant topic from keyword dictionaries, then report the mix
    // per language). The dictionary is a broadcast-sized table at ANY
    // corpus scale, so the corpus pays one explode + broadcast join +
    // doc-keyed aggregate; the dominant category is an argmax via
    // min(struct(-hits, category)) — ties break to the alphabetically
    // first category, identically in both engines. Docs hitting no
    // category tag as 'other'.
    "l48_taxonomy_tags" -> ((s, d) => {
      import s.implicits._
      val dict = taxonomyDict.toDF("w", "category")
      val toks = documents(s, d)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      val perCat = toks.join(broadcast(dict), Seq("w"))
        .groupBy(col("doc_id"), col("lang"), col("category"))
        .agg(count(lit(1)).as("hits"))
      val dominant = perCat
        .groupBy(col("doc_id"), col("lang"))
        .agg(min(struct((-col("hits")).as("neg"), col("category"))).as("top"))
        .select(col("doc_id"), col("lang"),
          col("top.category").as("category"), (-col("top.neg")).as("hits"))
      documents(s, d).select(col("doc_id"), col("lang"))
        .join(dominant.drop("lang"), Seq("doc_id"), "left")
        .na.fill("other", Seq("category")).na.fill(0L, Seq("hits"))
        .groupBy(col("lang"), col("category"))
        .agg(count(lit(1)).as("n_docs"), sum(col("hits")).as("sum_hits"))
        .orderBy(col("lang"), col("category"))
    }),

    // Incremental NEAR-dedup at ingest (l29's bloom shape upgraded from
    // exact-hash to MinHash-LSH): a new batch is checked against the
    // standing corpus WITHOUT ever generating corpus×corpus pairs — band
    // signatures join batch-side vs corpus-side only, so ingest cost is
    // O(batch × bucket density), independent of corpus self-similarity.
    // Candidates are verified with EXACT shingle Jaccard using the
    // integer form 2·|A∩B| >= |A∪B| (no float threshold), and surviving
    // batch docs aggregate per language. Banding recall at j >= 0.5 is
    // proven corpus-wide by l04 matching l03's exact pairs (also at sf0.1,
    // 256/256 pairs), so the LSH path reproduces the exact oracle here.
    "l49_incremental_neardedup" -> ((s, d) => {
      import s.implicits._
      val bands = documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.functions.TextOps.minhashBands(
            graft.functions.TextOps.wordShingles(t, 5).toSeq)
            .iterator.zipWithIndex.map { case (sig, band) => (id, band, sig) }
        }
        .toDF("doc_id", "band", "sig")
      val cand = bands.filter(col("doc_id") >= 400).alias("b")
        .join(bands.filter(col("doc_id") < 400).alias("c"),
          col("b.band") === col("c.band") && col("b.sig") === col("c.sig"))
        .select(col("b.doc_id").as("idb"), col("c.doc_id").as("idc"))
        .distinct()
      val sh = shingles(s, d)
      val rejected = cand
        .join(sh.select(col("doc_id").as("idb"), col("s").as("sb")), "idb")
        .join(sh.select(col("doc_id").as("idc"), col("s").as("sc")), "idc")
        .filter(size(array_intersect(col("sb"), col("sc"))) * 2 >=
          size(array_union(col("sb"), col("sc"))))
        .select(col("idb").as("doc_id")).distinct()
      documents(s, d).filter(col("doc_id") >= 400)
        .join(rejected, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_accepted"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    }),

    // Longest duplicated token span: the maximum n for which some token
    // n-gram occurs at least twice corpus-wide (the "longest repeated
    // substring" corpus statistic from span-dedup work — l22 removes known
    // spans; this FINDS the worst one). "Some n-gram repeats at n" is
    // monotone decreasing in n (a repeated n-gram's prefix repeats at
    // n-1), which licenses a driver-side binary search of O(log maxLen)
    // Spark jobs instead of materializing all O(len²) substrings the way a
    // suffix-array build would. Each probe shuffles only 64-bit gram
    // hashes with map-side partial counts; a probe whose duplicated-HASH
    // set is non-empty confirms on the exact gram strings via a semi-join
    // against that (tiny near the answer) set, so a 64-bit collision —
    // a real event at 100 TB gram counts — can never inflate the answer.
    // Token arrays are cut once and reused by every probe.
    // Pinned by tools/pin_l50.py (independent Python Counter + binary
    // search over the same monotone predicate).
    "l50_longest_dup_span" -> ((s, d) =>
      longestDupSpan(documents(s, d)))
  ) ++ Map[String, Q](

    // Bloom-filter decontamination — the FIXED-SIZE-sketch scale path for
    // l19's broadcast-set prefilter. The eval-set shingles fold into a
    // Bloom filter (k=3, xxhash64 double-hashing, auto-sized to ~16 bits
    // per eval shingle — see bloomBits) via ONE keyed bit_or aggregate
    // over bit-bucket longs: the broadcast is mBits/64 longs — 2 bytes
    // per eval shingle, vs l19's raw shingle-STRING broadcast (~30-60
    // bytes each plus hash-set overhead). Every corpus shingle then
    // probes the bitmap through three map-side broadcast-hash joins (no
    // shuffle of corpus text), and only Bloom survivors pay the exact-
    // confirm shuffle join keyed on the shingle. Bloom hits are a
    // SUPERSET by construction (no false negatives), so the exact confirm
    // makes the output Bloom-independent — the DuckDB oracle is the plain
    // exact join, and BloomDecontSpec pins the superset + measured-FP
    // properties of the prefilter itself.
    "l76_bloom_decontamination" -> ((s, d) => {
      // shingles build as pure codegen (array_distinct de-dups per doc, so
      // no corpus-wide distinct shuffle is needed) — the 5M ratchet showed
      // the typed flatMap paying tuple encode/decode per shingle instance
      val posts = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(0, size(w) - 3)," +
            " i -> concat_ws('_', slice(w, i + 1, 3))))")).as("sh"))
      // eval shingles are read three times (sizing count, bloom build,
      // exact confirm) — materialize once; tiny by definition (2 bytes/key
      // of bloom says the STRINGS are the expensive form, but still far
      // smaller than one corpus pass)
      val evalSh = posts.filter(col("doc_id") % 97 === 0)
        .select(col("sh")).distinct().cut()
      // The filter must SIZE ITSELF to the eval set (the 5M-doc ratchet
      // found this: a fixed 2^20-bit filter saturates at ~2.5M eval
      // shingles, prunes nothing, and the confirm join explodes) — one
      // count() of the eval set (tiny by definition) buys ~16 bits/key,
      // fill ~0.17 at k=3, whole-shingle FP ~1e-7 at ANY eval-set size.
      val mBits = bloomBits(evalSh.count())
      bloomPrefilter(posts.filter(col("doc_id") % 97 =!= 0), evalSh, mBits)
        .join(evalSh, Seq("sh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // Int8 scalar quantization + integer-dot ANN — the standard embedding
    // compression step before ANN at corpus scale (4x smaller vectors,
    // SIMD-friendly integer dot). Per-vector symmetric quantization
    // (scale = 127 / max|x|) runs as codegen'd higher-order functions
    // (transform/aggregate — no UDF, no extra pass), and ranking uses the
    // EXACT integer dot (zip_with multiply + long fold), so every output
    // value is integer-exact and the DuckDB oracle recomputes the
    // identical arithmetic. Queries broadcast; candidate scoring is
    // map-side; the only shuffle is the per-query top-k window.
    "l77_int8_quant_ann" -> ((s, d) => {
      val qemb = embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("maxabs",
          expr("aggregate(v, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))"))
        .filter(col("maxabs") > 0)
        .withColumn("qv",
          expr("transform(v, x -> cast(round(x * 127.0D / maxabs, 0) as bigint))"))
        .select(col("vec_id"), col("qv"))
      val q = qemb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("qv").as("qqv"))
      val scored = qemb.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("idot",
          expr("aggregate(zip_with(qqv, qv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("idot").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id").as("neighbor_id"), col("idot"))
        .orderBy(col("qid"), col("idot").desc, col("neighbor_id"))
    }),

    // ANN recall@k EVAL HARNESS — the quality gate an approximate index
    // needs before it replaces brute force in a pipeline: brute-force
    // top-5 ground truth vs IVF nprobe=1 candidates (the cheapest, most
    // recall-hostile setting), per-query hit count + integer recall
    // permille. Both arms reuse the l06/l15 shapes (broadcast centroids/
    // queries, keyed cell join, per-query window); the eval join is on
    // (qid, vec_id) — tiny by construction (5 rows per query).
    "l78_ann_recall_eval" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val kCents = 16
      val emb = embeddings(s, d)
      val cents = emb.filter(col("vec_id") < kCents)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val aw = Window.partitionBy(col("vec_id"))
        .orderBy(callUDF("cosine_similarity", col("cvec"), col("embedding")).desc,
          col("cid"))
      val assigned = emb.join(broadcast(cents))
        .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val tw = Window.partitionBy(col("qid"))
        .orderBy(callUDF("cosine_similarity", col("qvec"), col("embedding")).desc,
          col("vec_id"))
      val truth = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("rn", row_number().over(tw)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val pw = Window.partitionBy(col("qid"))
        .orderBy(callUDF("cosine_similarity", col("cvec"), col("qvec")).desc,
          col("cid"))
      val probes = q.join(broadcast(cents))
        .withColumn("rn", row_number().over(pw)).filter(col("rn") === 1)
        .select(col("qid"), col("qvec"), col("cid").as("cell"))
      val iw = Window.partitionBy(col("qid"))
        .orderBy(callUDF("cosine_similarity", col("qvec"), col("embedding")).desc,
          col("vec_id"))
      val approx = assigned.join(probes, Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rn", row_number().over(iw)).filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      truth.join(approx.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          expr("(1000 * n_hits) div n_truth").as("recall_permille"))
        .orderBy(col("qid"))
    }),

    // Distributed k-means TRAINING (3 Lloyd iterations) — the missing
    // half of the IVF story: l15 assigns to SEED vectors, this op LEARNS
    // the codebook. Each iteration is the textbook scalable shape: K
    // centroids broadcast (map-side argmin assignment, squared-Euclidean,
    // ties -> lowest cid), then ONE keyed shuffle per update — per-(cell,
    // dim) means via posexplode + groupBy, re-assembled with array_sort.
    // Centroids are rounded to 6 dp after every update so the DuckDB
    // oracle (which replays the identical iterations) sees bit-identical
    // inputs each round — double-sum order differences (~1e-13) sit five
    // orders below the rounding quantum. Empty cells keep their previous
    // centroid on both sides. At 100 TB: per-iteration cost is one
    // broadcast + two keyed shuffles of (cell, dim) rows — corpus-linear,
    // driver holds only K x dim doubles.
    "l79_kmeans_train" -> ((s, d) => {
      val kCents = 8
      val iters = 3
      val emb = embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      var cents = emb.filter(col("vec_id") < kCents)
        .select(col("vec_id").cast("long").as("cid"), col("v").as("cv"))
      def assign(c: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("vec_id")).orderBy(
          expr("aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b))," +
            " cast(0.0 as double), (acc, x) -> acc + x)").asc, col("cid"))
        emb.join(broadcast(c))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("cid").as("cell"))
      }
      for (_ <- 0 until iters) {
        val upd = assign(cents)
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg(round(avg(col("x")), 6).as("cx"))
          .groupBy(col("cell"))
          .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("ps"))
          .select(col("cell").as("cid"), expr("transform(ps, p -> p.cx)").as("ucv"))
        // cut the lineage each round: `cents` is referenced TWICE per
        // iteration (assignment + the empty-cell coalesce), so without a
        // cut the plan tree doubles per iteration (2^iters embedding
        // scans). The checkpoint is K x dim doubles — trivial to hold.
        cents = cents.join(upd, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("ucv"), col("cv")).as("cv"))
          .cut()
      }
      assign(cents).groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
        .join(cents.select(col("cid").as("cell"), col("cv")), Seq("cell"))
        .select(col("cell"), col("n_members"),
          round(element_at(col("cv"), 1), 4).as("c0"),
          round(sqrt(expr(
            "aggregate(cv, cast(0.0 as double), (acc, x) -> acc + x * x)")), 4)
            .as("cnorm"))
        .orderBy(col("cell"))
    }),

    // Crawl/sampling budget allocation by water-filling: spread a global
    // document budget B (= 3/5 of the corpus here) across (lang, source)
    // domains so no domain exceeds the common water level t — the classic
    // fair-allocation answer to "big domains would eat the whole budget
    // under proportional sampling". t has a closed form over the SORTED
    // per-domain counts: at boundary i, used(t) = prefix_i + (k - i)·t, so
    // the max feasible boundary plus integer division gives t exactly —
    // all on a k-row aggregate (k = #domains), never on the corpus. The
    // residual B - Σ min(avail, t) (< #capped domains) goes +1 to the
    // largest capped domains, making the allocation exactly budget-tight.
    // Concrete docs are then picked per domain by a deterministic integer
    // hash rank (the mixBucket permutation, ties by doc_id) — the corpus
    // is touched exactly twice: one count aggregate and one per-domain
    // rank window (at petabyte domains, swap the rank window for l24's
    // two-level histogram selection). Unpartitioned windows here run over
    // the k-row domain aggregate only.
    "l51_budget_waterfill" -> ((s, d) => {
      val docs = documents(s, d)
      val counts = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("avail"))
      val tot = docs.agg(expr("(count(1) * 3) div 5").as("b"))
      val k = counts.agg(count(lit(1)).as("k"))
      val ord = Window.orderBy(col("avail"), col("lang"), col("source"))
      val sorted = counts
        .withColumn("rn", row_number().over(ord).cast("long"))
        .withColumn("pre", sum(col("avail")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(k)).crossJoin(broadcast(tot))
        .withColumn("used", col("pre") + (col("k") - col("rn")) * col("avail"))
        .select("avail", "rn", "pre", "k", "b", "used")
      // virtual boundary rn=0 (t below the smallest count): always feasible
      val zero = k.crossJoin(tot).select(lit(0L).as("avail"),
        lit(0L).as("rn"), lit(0L).as("pre"), col("k"), col("b"),
        lit(0L).as("used"))
      val lvl = sorted.unionByName(zero).filter(col("used") <= col("b"))
        .orderBy(col("rn").desc).limit(1)
        .select(when(col("k") === col("rn"), col("avail"))
          .otherwise(col("avail") + expr("(b - used) div (k - rn)"))
          .as("t"), col("b"))
      val alloc0 = counts.crossJoin(broadcast(lvl))
        .withColumn("a", least(col("avail"), col("t")))
      val resid = alloc0.groupBy(col("b"))
        .agg((col("b") - sum(col("a"))).as("r")).select("r")
      val capped = alloc0.filter(col("avail") > col("a"))
        .withColumn("rr", row_number().over(
          Window.orderBy(col("avail").desc, col("lang"), col("source")))
          .cast("long"))
        .select("lang", "source", "rr")
      val alloc = alloc0.join(capped, Seq("lang", "source"), "left")
        .crossJoin(broadcast(resid))
        .withColumn("alloc", col("a") +
          when(col("rr").isNotNull && col("rr") <= col("r"), 1L).otherwise(0L))
        .select("lang", "source", "avail", "alloc")
      val h = ((col("doc_id") % 1000003L) * 998244353L + 12345L) % 1000007L
      val sel = docs.select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"), col("source")).orderBy(h, col("doc_id"))))
        .join(broadcast(alloc.select(col("lang"), col("source"), col("alloc"))),
          Seq("lang", "source"))
        .filter(col("rn") <= col("alloc"))
      alloc.join(
          sel.groupBy(col("lang"), col("source"))
            .agg(sum(col("doc_id")).as("sum_sel")),
          Seq("lang", "source"), "left")
        .na.fill(0L, Seq("sum_sel"))
        .orderBy(col("lang"), col("source"))
    }),

    // Native MinHash AGGREGATE vs the relational merge plan: the custom
    // Catalyst TypedImperativeAggregate `minhash_agg` builds each
    // source's 64-perm signature in ONE aggregation pass (partial
    // DATASET CARD profile — the one-pass per-(lang,source) stats sheet
    // every corpus release ships (counts, char-length min/mean/max, text
    // nulls/empties, distinct docs): ONE groupBy with partial (map-side)
    // aggregation, no second pass, no driver loop — at 100 TB this is a
    // single scan-shaped job whose output is k rows. Mean is kept
    // integer-exact (sum + count surfaced separately; ratio done by the
    // reader) so the compare is hash-stable.
    "l65_dataset_profile" -> ((s, d) => {
      documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_distinct"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(when(col("text").isNull || length(col("text")) === 0, 1L)
            .otherwise(0L)).as("n_empty"))
        .orderBy(col("lang"), col("source"))
    }),

    // update + executor merge, 64× less shuffle input than l58's
    // posexplode + groupBy-min), and this query proves the two plans
    // byte-identical position-by-position across every source — the
    // oracle pins n_positions = n_equal = 64 · |sources|. Raw postings
    // feed the aggregate with no pre-distinct (min absorbs duplicates).
    "l64_minhash_agg_parity" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val docs = documents(s, d)
      val withSource = shinglePostings(s, d)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val nativePos = withSource
        .groupBy(col("source")).agg(expr("minhash_agg(shingle)").as("sig"))
        .select(col("source"), posexplode(col("sig")))
        .toDF("source", "p", "v1")
      val explodePos = {
        import s.implicits._
        withSource.select(col("source"), col("shingle"))
          .as[(String, String)]
          .map { case (src, sh) =>
            (src, graft.functions.TextOps.minhashSignature(Seq(sh)))
          }.toDF("source", "sig")
          .select(col("source"), posexplode(col("sig")))
          .toDF("source", "p", "v")
          .groupBy(col("source"), col("p")).agg(min(col("v")).as("v2"))
      }
      nativePos.join(explodePos, Seq("source", "p"))
        .agg(count(lit(1)).as("n_positions"),
          sum(when(col("v1") === col("v2"), 1L).otherwise(0L)).as("n_equal"))
    }),

    // OOV curve — the tokenizer-design diagnostic: corpus token share
    // lost when the word vocabulary truncates to its top-k (k = 100 /
    // 200 / 400 / 800), i.e. how fast does out-of-vocabulary mass decay
    // with vocab budget. One corpus pass builds the word-frequency
    // table; ranking is a window over the Zipf-bounded VOCABULARY (never
    // the corpus), all four k cutoffs fold into ONE conditional
    // aggregate pass, and the wide row melts to (k, oov_permille) rows
    // with stack. Integer permille throughout.
    "l63_oov_curve" -> ((s, d) => {
      val ks = Seq(100, 200, 400, 800)
      val ranked = documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("f").desc, col("word"))))
      val sums = ranked.agg(sum(col("f")).as("total"),
        ks.map(k =>
          sum(when(col("rnk") > k, col("f")).otherwise(0L)).as(s"oov_$k")): _*)
      sums.select(col("total"), expr("stack(" + ks.length + ", " +
          ks.map(k => s"${k}L, oov_$k").mkString(", ") + ") as (k, oov)"))
        .select(col("k"), expr("(1000 * oov) div total").as("oov_permille"))
        .orderBy(col("k"))
    }),

    // Copy-influence PageRank — link analysis over the provenance
    // CITATION graph (a copier cites its earliest source per shared
    // 8-gram): which documents' content actually propagates through the
    // corpus? Ten rounds of the PageRank recurrence in INTEGER
    // micro-units (share = (pr·850) div (1000·outdeg), damping base
    // 150 000) — integer division plus long sums make every round
    // engine-exact with no float accumulation-order hazard; dangling
    // mass leaks, as in the simplified recurrence, and is documented in
    // the pin. Per round: one keyed join + one keyed aggregate over |E|,
    // lineage cut per round — the l14/l59 bounded-iteration discipline.
    // Pinned by tools/pin_l62.py (independent DuckDB edge derivation +
    // Python integer iteration).
    "l62_copy_pagerank" -> ((s, d) => {
      val sh = provenancePostings(s, d)
      // windowed min over g instead of groupBy + join back on g: the
      // source table is gram-count-sized, so the join shuffled the posting
      // rows a second time (the l47/l34 idiom — one exchange, not two)
      val cites = sh
        .withColumn("src", min(col("doc_id")).over(Window.partitionBy(col("g"))))
        .filter(col("doc_id") > col("src"))
        .select(col("doc_id").as("citer"), col("src").as("cited")).distinct()
        .cut()
      // cites ⋈ outdeg is LOOP-INVARIANT: hoist it out of the 10 iterations
      // (guide §2.4 — don't recompute what a loop doesn't change). And the
      // per-iteration full-corpus left join existed only to re-add the
      // constant 150000 base to every doc: pr(doc) = 150000 + in_mass(doc)
      // with in_mass 0 for never-cited docs, so the iterated table keeps
      // ONLY cited docs and readers coalesce the base at use — the corpus-
      // wide join (an exchange of every doc id per iteration, 10x) is gone
      // and the cut frame shrinks to the cited set. Identical arithmetic;
      // the final filter pr > 150000 only ever kept cited docs anyway.
      val contrib = cites.groupBy(col("citer")).agg(count(lit(1)).as("odeg"))
        .join(cites, Seq("citer")).cut()
      // Iteration 1: pr_0 is the CONSTANT 1000000 for every doc, so the
      // first round needs no pr join at all — a pure map + one keyed agg.
      var mass = contrib
        .select(col("cited"),
          expr("(1000000 * 850) div (1000 * odeg)").as("share"))
        .groupBy(col("cited")).agg(sum(col("share")).as("in_mass"))
        .select(col("cited").as("doc_id"), col("in_mass"))
        .cutLazy()
      for (_ <- 2 to 10) {
        mass = contrib
          .join(mass.select(col("doc_id").as("citer"), col("in_mass")),
            Seq("citer"), "left")
          .select(col("cited"),
            expr("((150000 + coalesce(in_mass, 0L)) * 850) div (1000 * odeg)")
              .as("share"))
          .groupBy(col("cited")).agg(sum(col("share")).as("in_mass"))
          .select(col("cited").as("doc_id"), col("in_mass"))
          .cutLazy()
      }
      mass.filter(col("in_mass") > 0L)
        .select(col("doc_id"), (lit(150000L) + col("in_mass")).as("pr_micros"))
        .orderBy(col("pr_micros").desc, col("doc_id"))
    }),

    // Near-dup cluster CANONICALIZATION: exact dedup keeps min-hash-id
    // (l02), but near-dup families should keep their BEST member — per
    // connected component (l14's labels), the canonical doc is the
    // longest (ties by id), picked with one min(struct(-quality, id))
    // aggregate — no per-cluster sort, no window over the corpus. The
    // oracle recomputes clusters with the same recursive CTE as l14 and
    // the argmax with a window, so the struct-min trick is verified
    // against the straightforward formulation.
    "l61_cluster_canonical" -> ((s, d) => {
      val cc = connectedComponents(
        jaccardPairs(s, d).select(col("ida"), col("idb")))
      cc.join(documents(s, d).select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("csize"),
          min(struct((-col("n_chars")).as("negq"), col("doc_id"))).as("c"),
          sum(col("doc_id")).as("sum_members"))
        .select(col("cluster_id"), col("csize"),
          col("c.doc_id").as("canonical"),
          (-col("c.negq")).as("canonical_chars"), col("sum_members"))
        .orderBy(col("cluster_id"))
    }),

    // Isotonic (Pool-Adjacent-Violators) calibration of a data-quality
    // signal: stale rate (l53's first-occurrence rule) as a NON-DECREASING
    // function of length decile — the order-constrained regression used
    // to turn raw classifier/heuristic scores into calibrated keep
    // probabilities. The corpus work is the same two keyed aggregates as
    // l53 plus one bucket rollup; PAV itself is inherently sequential
    // over the <= 10 pooled buckets, so it runs on the driver over the
    // collected aggregate (l50's k-row driver-math discipline), with
    // every rate comparison done by integer cross-multiplication — no
    // float anywhere. Pinned by tools/pin_l60.py (independent DuckDB
    // bucketing + pure-Python PAV).
    "l60_isotonic_calibration" -> ((s, d) => {
      import s.implicits._
      val sh = shinglePostings(s, d)
      val per = sh.groupBy(col("doc_id")).agg(max(col("sz")).cast("long").as("n_sh"))
      val own = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_first"))
      val mx = documents(s, d).agg(max(col("n_chars")).as("m"))
      val buckets = documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(per, Seq("doc_id"))
        .join(own, Seq("doc_id"), "left").na.fill(0L, Seq("n_first"))
        .crossJoin(broadcast(mx))
        .select(expr("(n_chars * 10) div (m + 1)").as("bucket"),
          when(col("n_first") * 2 < col("n_sh"), 1L).otherwise(0L).as("stale"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("stale")).as("pos"))
        .orderBy(col("bucket"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val blocks = scala.collection.mutable.ArrayBuffer
        .empty[(List[Long], Long, Long)]
      buckets.foreach { case (b, n, pos) =>
        blocks += ((List(b), n, pos))
        while (blocks.length >= 2 && {
          val t = blocks(blocks.length - 1); val p = blocks(blocks.length - 2)
          t._3 * p._2 < p._3 * t._2
        }) {
          val t = blocks.remove(blocks.length - 1)
          val p = blocks.remove(blocks.length - 1)
          blocks += ((p._1 ++ t._1, p._2 + t._2, p._3 + t._3))
        }
      }
      val fit = blocks.flatMap { case (bs, n, pos) =>
        bs.map(b => b -> (1000L * pos / n))
      }.toMap
      buckets.toSeq
        .map { case (b, n, pos) => (b, n, pos, fit(b)) }
        .toDF("bucket", "n", "n_stale", "fit_permille")
        .orderBy(col("bucket"))
    }),

    // Copy-LINEAGE depth — the WITH RECURSIVE twin: over l55's
    // provenance DAG (acyclic by construction, every edge has
    // src < dst), each document's depth is its LONGEST chain of
    // copied-from ancestors, computed by iterative frontier relaxation
    // (depth(v) = 1 + max depth over in-edges) with a 1-row convergence
    // aggregate per round and lineage cut per round — rounds = DAG
    // depth, the l14/l21 bounded-iteration discipline. The DuckDB oracle
    // is a literal recursive CTE over the same edge derivation, so the
    // relaxation is verified against real WITH RECURSIVE semantics.
    // Output is the depth histogram (0 = never copied from anyone).

    "l59_copy_lineage" -> ((s, d) => {
      val sh = provenancePostings(s, d)
      // windowed min over g instead of groupBy + join back (l47/l34 idiom)
      val edges = sh
        .withColumn("src", min(col("doc_id")).over(Window.partitionBy(col("g"))))
        .filter(col("doc_id") > col("src"))
        .select(col("src"), col("doc_id").as("dst")).distinct()
        .cut()
      val start = documents(s, d).select(col("doc_id"), lit(0L).as("dp"))
        .cut()
      // depths only grow, so a round that raises none is the fixpoint
      val depth = fixpoint("lineage relaxation", start, LineageRounds) { (cur, _) =>
        val nd = edges
          .join(cur.select(col("doc_id").as("src"), col("dp").as("sdp")),
            Seq("src"))
          .groupBy(col("dst")).agg((max(col("sdp")) + 1L).as("cand"))
        Lineage.Round(cur
            .join(nd.select(col("dst").as("doc_id"), col("cand")),
              Seq("doc_id"), "left")
            .select(col("doc_id"),
              greatest(col("dp"), coalesce(col("cand"), lit(0L))).as("dp"),
              (col("cand") > col("dp")).as("up")),
          Seq(count(when(col("up"), 1)).as("raised")),
          _("raised").asInstanceOf[Long] == 0L)
      }.state
      depth.groupBy(col("dp"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .select(col("dp").as("depth"), col("n_docs"), col("sum_ids"))
        .orderBy(col("depth"))
    }),

    // MERGEABLE MinHash sketches at the SOURCE level (q68's HLL pattern
    // for set SIMILARITY): per-doc 64-perm signatures are a pure map,
    // a source's sketch is the columnwise MIN of its docs' signatures —
    // exactly the union-set signature, because min is associative over
    // the shingle union — so corpus-partition sketches merge without
    // touching raw text again. Source-pair Jaccard estimates (matching
    // signature positions) are then checked inline against the exact
    // shingle-set Jaccard, q49-style: the oracle pins the exact permille
    // and the estimate must land within ±250.
    "l58_source_minhash" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val docs = documents(s, d)
      // ONE aggregation pass via the native minhash_agg (l64 pins its
      // parity with the explode+groupBy-min formulation)
      val merged = shinglePostings(s, d)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source")).agg(expr("minhash_agg(shingle)").as("sig"))
        .select(col("source"), posexplode(col("sig")))
        .toDF("source", "p", "v")
      val est = merged.alias("a").join(merged.alias("b"),
          col("a.p") === col("b.p") && col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          (col("a.v") === col("b.v")).cast("long").as("m"))
        .groupBy(col("sa"), col("sb"))
        .agg(expr("(sum(m) * 1000) div 64").as("est_permille"))
      val srcSh = shinglePostings(s, d)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("shingle")).distinct()
      val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val exact = srcSh.alias("x").join(srcSh.alias("y"),
          col("x.shingle") === col("y.shingle") &&
            col("x.source") < col("y.source"))
        .select(col("x.source").as("sa"), col("y.source").as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("i"))
        .join(broadcast(sizes.select(col("source").as("sa"), col("sz").as("za"))), Seq("sa"))
        .join(broadcast(sizes.select(col("source").as("sb"), col("sz").as("zb"))), Seq("sb"))
        .select(col("sa"), col("sb"),
          expr("(1000 * i) div (za + zb - i)").as("exact_permille"))
      exact.join(est, Seq("sa", "sb"), "left")
        .select(col("sa"), col("sb"), col("exact_permille"),
          (abs(coalesce(col("est_permille"), lit(0L)) - col("exact_permille"))
            <= 250L).as("est_within_250"))
        .orderBy(col("sa"), col("sb"))
    }),

    // Inverse-cloze contrastive pair construction (the ICT pretraining
    // task behind dense retrievers): each document splits
    // deterministically into a middle-third "sentence" view and its
    // surrounding context view; the lexical-overlap count diagnoses how
    // many pairs share surface vocabulary (overlapping pairs are the easy
    // positives that weaken contrastive training). Pure typed map per doc
    // — token sets never shuffle; one per-language aggregate.
    "l57_ict_pairs" -> ((s, d) => {
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (_, lang, t) =>
          val w = t.split(" ")
          val n = w.length
          val s0 = n / 3; val s1 = 2 * n / 3
          val sent = w.slice(s0, s1)
          val ctx = w.take(s0) ++ w.drop(s1)
          val overlap = sent.toSet.intersect(ctx.toSet).nonEmpty
          (lang, sent.length.toLong, ctx.length.toLong, if (overlap) 1L else 0L)
        }
        .toDF("lang", "la", "lb", "ov")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("la")).as("sum_sentence_tokens"),
          sum(col("lb")).as("sum_context_tokens"),
          sum(col("ov")).as("n_lexical_overlap"))
        .orderBy(col("lang"))
    }),

    // Multilingual temperature sampling at τ = 1/2 (the mT5/XLM-R recipe
    // that up-samples low-resource languages): mix weights ∝ sqrt(n_lang),
    // allocating half the corpus budget by largest-remainder so the
    // result is exactly budget-tight. IEEE-754 requires sqrt to be
    // correctly rounded, so floor(sqrt(bigint)) is engine-exact, and
    // every step after the sqrt is integer arithmetic (remainders
    // compared as b·w − base·W, never as floats). All on the per-language
    // aggregate — the corpus is touched once by the count.
    "l56_temperature_mix" -> ((s, d) => {
      val w = documents(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("w", floor(sqrt(col("n"))).cast("long"))
      val tot = w.agg(sum(col("w")).as("wt"), expr("sum(n) div 2").as("b"))
      val a0 = w.crossJoin(broadcast(tot))
        .withColumn("base", expr("(b * w) div wt"))
        .withColumn("rem", col("b") * col("w") - col("base") * col("wt"))
      val resid = a0.groupBy(col("b"))
        .agg((col("b") - sum(col("base"))).as("r")).select("r")
      a0.withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))).cast("long"))
        .crossJoin(broadcast(resid))
        .withColumn("alloc",
          col("base") + when(col("rr") <= col("r"), 1L).otherwise(0L))
        .select(col("lang"), col("n"), col("w"), col("alloc"),
          expr("(1000 * alloc) div n").as("rate_permille"))
        .orderBy(col("lang"))
    }),

    // Span PROVENANCE — the directional copy graph: every distinct word
    // 8-gram attributes to its EARLIEST document, and each later doc
    // containing it gains a (source → copier) edge weighted by shared
    // span count, normalized by the copier's gram inventory. The
    // directional complement of l03's symmetric Jaccard pairs — it says
    // who copied WHOM, the lineage question behind news-wire and
    // boilerplate families in web corpora. One gram-keyed min aggregate
    // (the only corpus-sized shuffle) + one pair aggregate; no pair ever
    // forms except through a shared gram.
    "l55_span_provenance" -> ((s, d) => {
      val sh = provenancePostings(s, d)
      // windowed min over g instead of groupBy + join back (l47/l34 idiom)
      sh.withColumn("src", min(col("doc_id")).over(Window.partitionBy(col("g"))))
        .filter(col("doc_id") > col("src"))
        .groupBy(col("src"), col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          max(col("sz")).cast("long").as("dst_total"))
        .select(col("src"), col("doc_id").as("dst"), col("n_spans"),
          col("dst_total"),
          expr("(1000 * n_spans) div dst_total").as("share_permille"))
        .orderBy(col("n_spans").desc, col("src"), col("dst"))
    }),

    // TOKEN-level 13-gram decontamination — the GPT-3 appendix-C spec
    // moved from word space to tokenizer space (l19 is the word-level
    // variant; tokenizer-space overlap additionally catches eval leakage
    // that word splits miss once BPE merges cross word fragments). The
    // corpus tokenizes through the SAME learned 8-round BPE as l38/l39
    // (vocabulary-sized broadcast join, token streams reassembled by one
    // doc-keyed aggregate), distinct 13-token grams per doc, eval =
    // doc_id % 7 (l19's convention); a broadcast semi-join against the
    // eval gram set flags contaminated training docs. Pinned by
    // tools/pin_l54.py (independent Python BPE + gram sets).
    "l54_token_decontamination" -> ((s, d) => {
      import s.implicits._
      val (vocab, _) = bpeLearnMerges(bpeWordVocab(s, d), rounds = 8)
      val toks = documents(s, d)
        .select(col("doc_id"), col("lang"),
          posexplode(split(col("text"), " ")))
        .toDF("doc_id", "lang", "pos", "word")
        .join(broadcast(vocab.select(col("word"), col("syms"))), Seq("word"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(expr("flatten(transform(array_sort(collect_list(" +
          "struct(pos, syms))), x -> x.syms))").as("toks"))
      // The typed flatMap is OPAQUE to Catalyst: a doc_id filter placed
      // after it cannot push down, so filtering the full gram table twice
      // (eval + train) used to run the whole tokenize+sort+sliding chain
      // TWICE over every document. Filter each branch BEFORE the flatMap —
      // the doc_id predicate pushes through the groupBy (group key) to the
      // scan, and the two branches now split the corpus instead of each
      // paying all of it (guide §4: opaque functions defeat pushdown —
      // select/filter first).
      def gramsOf(part: DataFrame): DataFrame = part
        .as[(Long, String, Seq[String])]
        .flatMap { case (id, lang, tk) =>
          // tight-loop distinct grams (TextOps.tokenShingles) instead of
          // sliding().mkString.toSet — same set, same separator, none of
          // sliding()'s per-window Seq allocations (guide §1.2 per-task
          // work; this flatMap runs over every train AND eval doc)
          graft.functions.TextOps.tokenShingles(tk.toArray, 13)
            .iterator.map((g: String) => (id, lang, g))
        }.toDF("doc_id", "lang", "g")
      val evalG = gramsOf(toks.filter(col("doc_id") % 7 === 0))
        .select(col("g")).distinct()
      val shared = gramsOf(toks.filter(col("doc_id") % 7 =!= 0))
        .join(broadcast(evalG), Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      documents(s, d).filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("lang"))
        .join(shared, Seq("doc_id"), "left").na.fill(0L, Seq("n_shared"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("n_contaminated"),
          sum(col("n_shared")).as("sum_shared"))
        .orderBy(col("lang"))
    }),

    // Semi-supervised label propagation over an approximate kNN graph —
    // the curation move that turns a small hand-labeled seed set into
    // corpus-wide quality/topic labels. Graph build is the multi-table
    // LSH shape: explode each vector to its T=4 coarse hyperplane
    // buckets (disjoint key spaces), candidate pairs come from ONE keyed
    // self-join on bucket (never all-pairs), and exact cosine reranks to
    // the top-5 out-neighbors per node. Propagation is 4 rounds of
    // edge-keyed majority vote (ties → smallest label); seeds
    // (vec_id % 5 == 0, 20%) stay clamped, everyone else adopts the
    // majority of labeled in-round neighbors. Per round: one join + two
    // keyed aggregates over |E| = 5·n edges, lineage cut per round —
    // the same bounded-round discipline as l14's connected components.
    // Output is the non-seed confusion matrix (true label vs propagated;
    // -1 = never reached). Pinned by tools/pin_l52.py (independent
    // Python JavaRandom + cosine + propagation).
    // Per-document n-gram NOVELTY attribution: every distinct 5-gram
    // shingle credits its FIRST corpus occurrence (min doc_id); a
    // document's novelty is the fraction of its shingles it introduced.
    // The dual of dedup scoring — low-novelty docs are rehashes of
    // earlier content even when no single pair crosses a Jaccard
    // threshold, and "stale" (novelty < 1/2) is the drop gate. Two keyed
    // shuffles total: one groupBy shingle (map-side combine) for the
    // first-occurrence table, one groupBy doc for the credit counts; the
    // lang rollup is integer-exact permille. At 100 TB the shingle key
    // would be its 64-bit hash (collisions only merge credit).
    "l53_novelty_scores" -> ((s, d) => {
      val sh = shinglePostings(s, d)
      val firsts = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("doc_id"))
      val own = firsts.groupBy(col("doc_id")).agg(count(lit(1)).as("n_first"))
      val per = sh.groupBy(col("doc_id")).agg(max(col("sz")).cast("long").as("n_sh"))
      documents(s, d).select(col("doc_id"), col("lang"))
        .join(per, Seq("doc_id"))
        .join(own, Seq("doc_id"), "left").na.fill(0L, Seq("n_first"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_first")).as("sum_first"),
          sum(col("n_sh")).as("sum_shingles"),
          sum(when(col("n_first") * 2 < col("n_sh"), 1L).otherwise(0L))
            .as("n_stale"))
        .withColumn("novelty_permille",
          expr("(1000 * sum_first) div sum_shingles"))
        .orderBy(col("lang"))
    }),

    "l52_label_propagation" -> ((s, d) => {
      graft.GraftSession.registerAll(s)
      val emb = embeddings(s, d)
      val edges = knnGraphEdges(emb).cut()
      var labels = emb.select(col("vec_id"),
          col("label").cast("long").as("truth"),
          (col("vec_id") % 5 === 0).as("seed"))
        .withColumn("cur",
          when(col("seed"), col("truth")).otherwise(lit(-1L)))
        .select("vec_id", "seed", "truth", "cur").cut()
      for (_ <- 1 to 4) {
        // mode(nl, true) = most frequent neighbor label, ties -> LOWEST
        // value — exactly the old min(struct(-n, nl)) over a (src, nl)
        // count, in ONE src-keyed exchange instead of the count's
        // (src, nl) exchange plus the argmax's src exchange (§2.1 spirit:
        // same answer, half the shuffles per round).
        val votes = edges
          .join(labels.select(col("vec_id").as("dst"), col("cur").as("nl")),
            "dst")
          .filter(col("nl") =!= -1L)
          .groupBy(col("src"))
          .agg(expr("mode(nl, true)").as("maj"))
          .select(col("src").as("vec_id"), col("maj"))
        labels = labels.join(votes, Seq("vec_id"), "left")
          .withColumn("cur", when(col("seed"), col("cur"))
            .otherwise(coalesce(col("maj"), col("cur"))))
          .select("vec_id", "seed", "truth", "cur").cut()
      }
      labels.filter(!col("seed"))
        .groupBy(col("truth"), col("cur")).agg(count(lit(1)).as("n"))
        .select(col("truth").as("label"), col("cur").as("pred"), col("n"))
        .orderBy(col("label"), col("pred"))
    }),

    // CROSS-document exact-substring scrub — the ExactSubstr dedup of Lee
    // et al. 2021 ("Deduplicating Training Data Makes Language Models
    // Better"), re-expressed relationally: any 8-token span occurring in
    // >= 2 DISTINCT documents is scrubbed EVERYWHERE it occurs (l47 is
    // the intra-doc sibling; l22 measures cross-doc span overlap but
    // removes nothing). Scale shape: the positioned-shingle table is
    // corpus-linear; dup grams come from a two-level keyed aggregate
    // (distinct (g, doc) then count per g — never a countDistinct
    // Expand); the gram join is a shuffle join on g (the dup set is
    // corpus-sized in the worst case, so no broadcast); and the interval
    // merge runs in windows PARTITIONED PER DOC (bounded by doc length).
    // Fixed-length intervals sorted by start merge with a lag(1) test —
    // span starts a new group iff its gap to the previous start >= 8.
    "l66_crossdoc_substring_scrub" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      // NOT lineage-cut on purpose: the positioned-gram table is corpus-
      // sized (10M+ wide string rows at sf1) but cheap to rebuild — a
      // cut's materialization measured SLOWER (13.9 s vs 7.5 s
      // min at sf1) than letting both consumers recompute the explode.
      // Cuts pay for SMALL-output/EXPENSIVE subtrees (q64's baskets),
      // not large-output/cheap ones.
      val sh = toks.filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w) - 8)," +
            " i -> struct(i as i, concat_ws(' ', slice(w, i + 1, 8)) as g))")).as("t"))
        .select(col("doc_id"), col("t.i").as("i"), col("t.g").as("g"))
      val dupg = sh.select(col("g"), col("doc_id")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("g"))
      val marked = sh.join(dupg, "g").select(col("doc_id"), col("i"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val spans = marked
        .withColumn("isnew",
          when(col("i") - lag(col("i"), 1).over(w) < 8, 0L).otherwise(1L))
        .withColumn("sid", sum(col("isnew")).over(w))
        .groupBy(col("doc_id"), col("sid"))
        .agg((max(col("i")) + 8 - min(col("i"))).as("removed"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("removed")).cast("long").as("n_removed"))
      toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
        .join(spans, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_spans", "n_removed"))
        .withColumn("kept_permille",
          expr("(n_tokens - n_removed) * 1000 div n_tokens"))
        .orderBy(col("doc_id"))
    })
  )

  /** (doc_id, doc 8-gram count, 8-gram) postings for the provenance
    * family (l55 copy graph, l59 lineage depth).
    */
  private def provenancePostings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val g = graft.functions.TextOps.wordShingles(t, 8)
        g.iterator.map(x => (id, g.length, x))
      }.toDF("doc_id", "sz", "g")
  }

  /** l76's Bloom prefilter (factored out so BloomDecontSpec can pin the
    * superset / false-positive properties of the prefilter in isolation).
    * Builds a `mBits`-bit Bloom filter (k=3, xxhash64 double-hashing) over
    * `evalSh`'s `sh` column via one bit_or aggregate into <= mBits/64
    * bucket longs, then keeps the rows of `corpusSh` (doc_id, sh) whose
    * shingle has all three bits set — three map-side broadcast-hash joins,
    * no shuffle of the corpus. Hits are a superset of true matches by
    * construction; callers must exact-confirm.
    */
  /** Bloom sizing: smallest power of two >= 16 bits per eval shingle,
    * floored at 2^20 (128 KB — below that the broadcast is free anyway).
    * Power-of-two keeps pmod cheap and the bucket space dense.
    */
  private[graft] def bloomBits(nEval: Long): Long = {
    val want = math.max(1L << 20, 16L * math.max(nEval, 1L))
    java.lang.Long.highestOneBit(want - 1) << 1
  }

  private[graft] def bloomPrefilter(corpusSh: DataFrame, evalSh: DataFrame,
      mBits: Long): DataFrame = {
    def withPositions(df: DataFrame): DataFrame =
      df.withColumn("h1", expr(s"pmod(xxhash64(sh), ${mBits}L)"))
        .withColumn("h2", expr(s"pmod(xxhash64(sh, 1), ${mBits}L)"))
        // h1, h2 < mBits << 2^62, so h1 + i*h2 cannot overflow ANSI longs
        .withColumn("pos",
          expr(s"transform(sequence(0, 2), i -> pmod(h1 + i * h2, ${mBits}L))"))
        .drop("h1", "h2")
    val bloom = withPositions(evalSh)
      .select(explode(col("pos")).as("p"))
      .select(expr("p div 64").as("bucket"),
        expr("shiftleft(1L, cast(p % 64 as int))").as("mask"))
      .groupBy(col("bucket")).agg(expr("bit_or(mask)").as("bits"))
    var cand = withPositions(corpusSh)
    for (i <- 0 until 3) {
      cand = cand
        .withColumn(s"b$i", expr(s"pos[$i] div 64"))
        .withColumn(s"m$i", expr(s"shiftleft(1L, cast(pos[$i] % 64 as int))"))
        .join(broadcast(bloom.select(col("bucket").as(s"b$i"),
          col("bits").as(s"bits$i"))), Seq(s"b$i"), "left")
        .filter(col(s"bits$i").isNotNull &&
          (expr(s"bits$i & m$i") === col(s"m$i")))
        .drop(s"b$i", s"m$i", s"bits$i")
    }
    cand.select(col("doc_id"), col("sh"))
  }

  /** l52's approximate kNN-graph build (factored out so PlanAuditSpec can
    * inspect the pre-checkpoint plan): multi-table hyperplane buckets →
    * ONE keyed self-join on bucket → exact cosine rerank to the top-5
    * out-neighbors per node. Requires `cosine_similarity` registered.
    */
  private[graft] def knnGraphEdges(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val bucketed = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        graft.functions.VectorOps.knnBuckets(v).iterator.map(b => (id, b))
      }.toDF("vec_id", "bucket")
    val cand = bucketed.alias("x").join(bucketed.alias("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
      .distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("src"), col("embedding").as("sv")),
        "src")
      .join(vecs.select(col("vec_id").as("dst"), col("embedding").as("dv")),
        "dst")
      .withColumn("cos", callUDF("cosine_similarity", col("sv"), col("dv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .filter(col("rn") <= 5).select(col("src"), col("dst"))
  }

  /** Rolling-hash constants for [[longestDupSpan]]: FNV-1a 64 per word
    * (over UTF-16 chars, byte-split — equal strings hash equal, no
    * per-word byte-array allocation), combined per gram with an odd
    * multiplier mod 2^64. Internal to the probe — any collision is
    * resolved by the exact string confirm.
    */
  private final val RollP = 0x9E3779B97F4A7C15L
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      h ^= (c & 0xFF); h *= 0x100000001b3L
      h ^= ((c >> 8) & 0xFF); h *= 0x100000001b3L
      i += 1
    }
    h
  }
  private def powP(n: Int): Long = {
    var r = 1L; var i = 0
    while (i < n) { r *= RollP; i += 1 }
    r
  }

  /** l50 core (factored out for direct testing on synthetic corpora):
    * binary search for the max n with a corpus-wide duplicated token
    * n-gram, then the exact duplicated-gram set at that n.
    */
  private[queries] def longestDupSpan(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Per-word 64-bit hashes are computed ONCE at the cut; every probe
    // then derives its gram hashes by a prefix-sum rolling hash — O(len)
    // longs per doc per probe instead of O(len * n) bytes of gram-STRING
    // building (the old shape built and xxhash64'd every n-word string
    // twice per probe). `pref[k] = pref[k-1] * P + hw[k]` (mod 2^64), so
    // hash(i, n) = pref[i+n-1] - pref[i-1] * P^n — multiplication
    // distributes over the natural overflow. Collisions (more likely than
    // for direct string hashes, still ~2^-64) only ADD confirm candidates;
    // exactness lives in the string confirm, unchanged.
    val toks = docs.select(col("text")).as[String]
      .map { t =>
        val w = t.split(" ")
        val pref = new Array[Long](w.length)
        var h = 0L
        var k = 0
        while (k < w.length) {
          h = h * RollP + fnv64(w(k)); pref(k) = h; k += 1
        }
        (w, pref)
      }.toDF("w", "pref")
      .withColumn("id", monotonically_increasing_id()).cut()
    // Rolling gram hashes for a probe length n: longs only, no strings.
    def gramHashes(n: Int) = {
      val pn = powP(n)
      toks.select(col("id"), col("pref")).as[(Long, Seq[Long])]
        .flatMap { case (id, pref) =>
          if (pref.length < n) Iterator.empty
          else (0 to pref.length - n).iterator.map { i =>
            val base = if (i == 0) 0L else pref(i - 1) * pn
            (id, i, pref(i + n - 1) - base)
          }
        }.toDF("id", "pos", "h")
    }
    // Exact duplicated n-grams: rolling-hash count phase, then the string
    // confirm builds gram strings ONLY for candidate positions (h in the
    // duplicated-hash set) via a codegen'd slice+array_join back-join —
    // never for the whole corpus.
    def candGrams(n: Int) = {
      val gh = gramHashes(n)
      val dupH = gh.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"))
      gh.join(dupH, Seq("h"), "left_semi")
        .join(toks.select(col("id"), col("w")), Seq("id"))
        .select(expr(s"array_join(slice(w, pos + 1, $n), ' ')").as("g"))
    }
    def dupGrams(n: Int) =
      candGrams(n)
        .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
    def dupAt(n: Int): Boolean = {
      val gh = gramHashes(n)
      val dupH = gh.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h")).cut()
      // (cutLazy here measured SLOWER 3/3 interleaved windows r18 — the
      // count()-materialization job beats rdd-level eager cut on none of
      // them; eager stays. l52's round cuts: same verdict 2/3.)
      !dupH.isEmpty && !gh.join(dupH, Seq("h"), "left_semi")
        .join(toks.select(col("id"), col("w")), Seq("id"))
        .select(expr(s"array_join(slice(w, pos + 1, $n), ' ')").as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).isEmpty
    }
    if (!dupAt(1)) {
      Seq((0L, 0L, "", 0L))
        .toDF("max_n", "n_dup_grams", "min_gram", "min_gram_cnt")
    } else {
      val maxLen = toks.select(max(size(col("w")))).head().getInt(0)
      var lo = 1; var hi = maxLen
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (dupAt(mid)) lo = mid else hi = mid - 1
      }
      dupGrams(lo).agg(
        max(lit(lo.toLong)).as("max_n"),
        count(lit(1)).as("n_dup_grams"),
        min(col("g")).as("min_gram"),
        min(struct(col("g"), col("cnt"))).getField("cnt").as("min_gram_cnt"))
    }
  }

  /** Keyword → topic dictionary for l48 (interpolated into the DuckDB
    * oracle by [[taxonomyDictSql]] so the two can never drift).
    */
  private val taxonomyDict: Seq[(String, String)] = Seq(
    "scan" -> "execution", "filter" -> "execution", "join" -> "execution",
    "agg" -> "execution", "sort" -> "execution", "merge" -> "execution",
    "hash" -> "execution",
    "table" -> "storage", "row" -> "storage", "column" -> "storage",
    "part" -> "storage", "batch" -> "storage", "vector" -> "storage",
    "stream" -> "streaming", "window" -> "streaming", "spark" -> "streaming")
  private def taxonomyDictSql: String =
    taxonomyDict.map { case (w, c) => s"('$w', '$c')" }.mkString(", ")

  /** Exact n-gram Jaccard pairs (j >= 0.5) via a PPJoin-style prefix
    * filter: only the (sz - ceil(sz*t) + 1) rarest shingles of each doc
    * (global df order) can witness a qualifying pair, so the candidate
    * join is keyed on prefix shingles — never all-pairs. Unsorted; l03
    * adds the presentation sort, l14 feeds the pairs straight into
    * connected components.
    */
  /** Word-frequency vocabulary with per-character symbol arrays — the
    * input to BPE merge induction (l38/l39). The ONLY corpus-sized step
    * of the whole tokenizer pipeline is this one keyed aggregate.
    */
  private def bpeWordVocab(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))

  /** Shared BPE merge-induction loop (Sennrich et al., l38/l39): each
    * round counts adjacent symbol pairs weighted by word freq over the
    * VOCABULARY table (Zipf-bounded, tiny vs the corpus at any scale),
    * takes the argmax (ties to the lexicographically smaller pair), and
    * rewrites the symbol arrays with a greedy left-to-right fold — a
    * pure codegen'd higher-order function, no UDF. Returns the merged
    * vocabulary (word, freq, syms) and the merge list (round, pair, cnt).
    * Cross-checked by the independent Python BPEs in tools/pin_l38.py
    * and tools/pin_l39.py.
    */
  private def bpeLearnMerges(vocab0: DataFrame, rounds: Int)
      : (DataFrame, Seq[(Int, String, Long)]) = {
    // cutLazy: each round's rewrite materializes inside the immediately
    // following merge-pick action (one action per round instead of two);
    // see Lineage.cutLazy and the r18 JobProbe note below.
    var vocab = vocab0.cutLazy()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    (1 to rounds).foreach { r =>
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> concat(syms[i], ' ', syms[i + 1]))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()(0)
      val bp = best.getString(0)
      merges += ((r, bp, best.getLong(1)))
      val Array(a, b) = bp.split(" ", 2)
      // NOTE (measured negative, r18): gating this fold behind
      // array_contains(syms, a) && array_contains(syms, b) (skip the
      // O(n^2)-copy fold for words that cannot merge) was SLOWER on both
      // interleaved windows (l38 0.60->0.69 / 0.62->0.73, l54 mixed): at
      // 8 merge rounds the winners are still near-single-char pairs most
      // words CONTAIN, so the guard adds two array scans per row and
      // skips almost nothing. Reverted; re-try only if the round count
      // ever grows past the point where merged multi-char symbols win.
      // NOTE (measured negative, r18 #2): materializing the pair counts
      // INSIDE each round's cut (tagged union rows; the pick becomes a
      // tiny TakeOrdered over materialized rows) did NOT reduce the
      // round's action count — AQE materializes the union's internal
      // exchange as its own job, exactly offsetting the saved pick
      // action (JobProbe: 15 -> 16 jobs; timing parity 2/2 windows).
      // Reverted to the plain pick + cut pair.
      vocab = vocab.withColumn("syms",
        aggregate(col("syms"), array().cast("array<string>"),
          (acc, x) => when(size(acc) > 0 &&
              element_at(acc, lit(-1)) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))))
        .cutLazy()
    }
    (vocab, merges.toSeq)
  }

  /** Exact maximum-matching segmentation DP for l40, as a single codegen'd
    * aggregate fold (no UDF). For a word's symbol array `syms` and a piece
    * inventory map column `pm` (piece -> frequency), computes the best
    * segmentation under ALL-INTEGER scoring: minimize piece count, ties ->
    * maximize summed piece frequency, ties -> prefer the longest trailing
    * piece (smallest start). `acc[p]` holds the best solution for the
    * prefix of length p-1; step i appends the winner over candidate last
    * pieces syms[p..i] (p in [i-maxLen+1, i]) that exist in `pm`. Single
    * characters are always in the inventory, so a valid candidate always
    * exists. Mirrored independently in Python by tools/pin_l40.py.
    */
  private def maxMatchSegExpr(maxLen: Int): String =
    s"""element_at(
       |  aggregate(
       |    sequence(1, size(syms)),
       |    array(named_struct(
       |      'np', 0, 'sc', cast(0 as bigint), 'p', 0, 'ok', true,
       |      'seg', cast(array() as array<string>))),
       |    (acc, i) -> concat(acc, array(element_at(
       |      array_sort(
       |        filter(
       |          transform(sequence(greatest(1, i - ${maxLen - 1}), i),
       |            p -> named_struct(
       |              'np', element_at(acc, p).np + 1,
       |              'sc', element_at(acc, p).sc + coalesce(
       |                element_at(pm, array_join(slice(syms, p, i - p + 1), '')),
       |                cast(0 as bigint)),
       |              'p', p,
       |              'ok', element_at(pm,
       |                array_join(slice(syms, p, i - p + 1), '')) is not null,
       |              'seg', concat(element_at(acc, p).seg,
       |                array(array_join(slice(syms, p, i - p + 1), ''))))),
       |          c -> c.ok),
       |        (x, y) -> case
       |          when x.np < y.np then -1 when x.np > y.np then 1
       |          when x.sc > y.sc then -1 when x.sc < y.sc then 1
       |          when x.p < y.p then -1 when x.p > y.p then 1
       |          else 0 end),
       |      1)))),
       |  size(syms) + 1)""".stripMargin

  /** Shared product-quantization trainer for l35/l36: per-subspace Lloyd's
    * k-means on the 1e-6 integer grid (M=4 subspaces of 16 dims, K=16
    * centroids, 3 iterations; init = subvectors of vec_id < K; ties to the
    * smaller cid; empty clusters keep their centroid). Returns the code
    * assignment (vec_id, m, sub, cid, err — err is the exact integer L2)
    * and the trained codebook. The codebook is M*K*16 longs — driver- and
    * broadcast-sized at any corpus scale; each iteration touches the corpus
    * with one broadcast join + per-(vec, subspace) window and one exploded
    * keyed SUM with map-side combine.
    */
  private def pqModel(s: SparkSession, d: String)
      : (DataFrame, Array[(Int, Int, Seq[Long])]) = {
    val M = 4; val SUB = 16; val K = 16; val iters = 3
    val emb = embeddings(s, d)
      .withColumn("q", transform(col("embedding"),
        x => floor(x.cast("double") * 1e6 + 0.5).cast("long")))
      .select(col("vec_id"), col("q"))
    // materialize the quantized subvectors ONCE — every k-means iteration
    // (and the final encode) re-reads them; without the cut each assign()
    // would re-scan the parquet and re-quantize (at corpus scale: persist)
    val sub = emb.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${M - 1})," +
        s" m -> struct(m as m, slice(q, m * $SUB + 1, $SUB) as sub))")).as("t"))
      .select(col("vec_id"), col("t.m").as("m"), col("t.sub").as("sub"))
      .cut()
    // native codegen'd integer squared-L2 (SqDistLongExpr) — same per-pair
    // allocation argument as l25's dot_long
    def dist(a: Column, b: Column): Column = callUDF("sqdist_long", a, b)

    import s.implicits._
    var cents: Array[(Int, Int, Seq[Long])] = sub.filter(col("vec_id") < K)
      .orderBy("m", "vec_id").collect()
      .map(r => (r.getInt(1), r.getLong(0).toInt, r.getSeq[Long](2)))
    // Map-ONLY code assignment (same shape as l25): the M x K x SUB
    // codebook is a plan literal indexed by subspace, and the min-distance
    // argmin over K runs inside one codegen'd expression per (vec, m) row
    // — no join, no window, no shuffle per iteration. Ties -> lowest cid,
    // exactly as tools/pin_l35.py pins.
    def assign(cs: Array[(Int, Int, Seq[Long])]): DataFrame = {
      val byM: Seq[Seq[(Int, Seq[Long])]] =
        (0 until M).map(m => cs.filter(_._1 == m).map(c => (c._2, c._3)).toSeq)
      val centsLit = typedLit(byM)
      sub.withColumn("best", array_min(transform(
          element_at(centsLit, col("m") + 1),
          c => struct(dist(c.getField("_2"), col("sub")).as("err"),
            c.getField("_1").as("cid")))))
        .select(col("vec_id"), col("m"), col("sub"),
          col("best.cid").as("cid"), col("best.err").as("err"))
    }
    (1 to iters).foreach { _ =>
      val sums = assign(cents)
        .select(col("m"), col("cid"), posexplode(col("sub")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      cents = cents.map { case (m, cid, old) =>
        byKey.get((m, cid)) match {
          case None => (m, cid, old) // empty cluster keeps its centroid
          case Some(rows) =>
            val n = rows.head.getLong(4)
            val mean = old.toArray
            rows.foreach(r =>
              mean(r.getInt(2)) = math.floor(r.getLong(3).toDouble / n + 0.5).toLong)
            (m, cid, mean.toSeq)
        }
      }
    }
    (assign(cents), cents)
  }

  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val t = 0.5
    // The shingle ARRAYS are consumed three times downstream (the posting
    // explode + both sides of the verify back-join): cut once so
    // wordShingles runs ONCE per document instead of 3x (the compact
    // array form, unlike l22/l66's corpus-sized EXPLODED tables where a
    // cut measured slower). Postings derive from the materialized arrays —
    // explode of a plain column attribute, so no Generate re-evaluation.
    val sh = shingles(s, d).cut()
    val ex = sh.select(col("doc_id"), size(col("s")).as("sz"),
      explode(col("s")).as("shingle"))
    val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val prefix = ex.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * t) + 1)
      .select(col("doc_id"), col("shingle"))
    val cand = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("ida"), col("s").as("sa")), "ida")
      .join(sh.select(col("doc_id").as("idb"), col("s").as("sb")), "idb")
      .withColumn("j", round(size(array_intersect(col("sa"), col("sb"))) /
        size(array_union(col("sa"), col("sb"))).cast("double"), 4))
      .filter(col("j") >= t)
      .select(col("ida"), col("idb"), col("j"))
  }

  /** Shared DuckDB CTE chain deriving the image dHash truth from the
    * construction (l67/l68 oracles): block grid -> cells -> bits -> hashes
    * -> bands -> `fp(ida, idb, hia, loa, hib, lob)` confirmed pairs.
    */
  private val imagePairsCtes: String =
    """ids AS (SELECT doc_id FROM documents),
      |hm AS (SELECT i.doc_id, gx.bx, gy.cy,
      |    (gx.bx * 73856093 + gy.cy * 19349663 + (i.doc_id // 4) * 83492791) % 1000003 AS hm
      |  FROM ids i, generate_series(0, 8) gx(bx), generate_series(0, 7) gy(cy)),
      |cells AS (SELECT doc_id, bx, cy,
      |    CASE WHEN (doc_id % 4) > 0 AND bx = (2 * (doc_id % 4)) % 9
      |              AND cy = (3 * (doc_id % 4)) % 8
      |         THEN 255 - (((hm * hm + hm * 7919) % 1000003) % 256)
      |         ELSE ((hm * hm + hm * 7919) % 1000003) % 256 END AS v
      |  FROM hm),
      |bits AS (SELECT a.doc_id, a.cy * 8 + a.bx AS idx,
      |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.bx = a.bx + 1
      |  WHERE a.bx < 8),
      |hashes AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN idx >= 32 THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN idx < 32 THEN bit * (1::BIGINT << idx) ELSE 0 END) AS BIGINT) AS lo
      |  FROM bits GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, hi, lo, 0 AS bidx, lo % 65536 AS bv FROM hashes
      |  UNION ALL SELECT doc_id, hi, lo, 1, lo // 65536 FROM hashes
      |  UNION ALL SELECT doc_id, hi, lo, 2, hi % 65536 FROM hashes
      |  UNION ALL SELECT doc_id, hi, lo, 3, hi // 65536 FROM hashes),
      |pairs AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
      |    a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
      |  FROM bands a JOIN bands b
      |    ON a.bidx = b.bidx AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |fp AS (SELECT * FROM pairs
      |  WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 6)""".stripMargin

  /** Shared DuckDB CTE chain deriving the audio envelope-hash truth from
    * the construction (l70 oracle) — the 1-D analog of [[imagePairsCtes]]:
    * 65 amplitude windows -> adjacent-cell bits -> hashes -> bands ->
    * `afp(ida, idb, hia, loa, hib, lob)` confirmed pairs. The decoded
    * per-window mean |sample| is amp*100, a positive constant scale, so
    * comparing raw amps (0..255) yields the identical bit pattern.
    */
  private val audioPairsCtes: String =
    """aids AS (SELECT doc_id FROM documents),
      |ahm AS (SELECT i.doc_id, gw.w,
      |    (gw.w * 73856093 + (i.doc_id // 4) * 83492791) % 1000003 AS hm
      |  FROM aids i, generate_series(0, 64) gw(w)),
      |acells AS (SELECT doc_id, w,
      |    CASE WHEN (doc_id % 4) > 0 AND w = (7 * (doc_id % 4)) % 65
      |         THEN 255 - (((hm * hm + hm * 7919) % 1000003) % 256)
      |         ELSE ((hm * hm + hm * 7919) % 1000003) % 256 END AS v
      |  FROM ahm),
      |abits AS (SELECT a.doc_id, a.w AS idx,
      |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
      |  FROM acells a JOIN acells b ON a.doc_id = b.doc_id AND b.w = a.w + 1
      |  WHERE a.w < 64),
      |ahashes AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN idx >= 32 THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN idx < 32 THEN bit * (1::BIGINT << idx) ELSE 0 END) AS BIGINT) AS lo
      |  FROM abits GROUP BY doc_id),
      |abands AS (
      |  SELECT doc_id, hi, lo, 0 AS bidx, lo % 65536 AS bv FROM ahashes
      |  UNION ALL SELECT doc_id, hi, lo, 1, lo // 65536 FROM ahashes
      |  UNION ALL SELECT doc_id, hi, lo, 2, hi % 65536 FROM ahashes
      |  UNION ALL SELECT doc_id, hi, lo, 3, hi // 65536 FROM ahashes),
      |apairs AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
      |    a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
      |  FROM abands a JOIN abands b
      |    ON a.bidx = b.bidx AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |afp AS (SELECT * FROM apairs
      |  WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 6)""".stripMargin

  /** DuckDB CTE chain for the l71 JPEG-invariance oracle: identical shape
    * to [[imagePairsCtes]] but over the margin-quantized cell values of
    * `ImageOps.marginBlockValue` (32 + q*48 + parity*24). The oracle is
    * derived from the PNG-side synthesis arithmetic; the Spark query must
    * reproduce it from dHashes taken AFTER a lossy JPEG round-trip — that
    * asymmetry IS the gate.
    */
  private val jpegPairsCtes: String =
    """jids AS (SELECT doc_id FROM documents),
      |jhm AS (SELECT i.doc_id, gx.bx, gy.cy,
      |    (gx.bx * 73856093 + gy.cy * 19349663 + (i.doc_id // 4) * 83492791) % 1000003 AS hm
      |  FROM jids i, generate_series(0, 8) gx(bx), generate_series(0, 7) gy(cy)),
      |jcells AS (SELECT doc_id, bx, cy,
      |    CASE WHEN (doc_id % 4) > 0 AND bx = (2 * (doc_id % 4)) % 9
      |              AND cy = (3 * (doc_id % 4)) % 8
      |         THEN 255 - (32 + (((hm * hm + hm * 7919) % 1000003) % 4) * 48 + ((bx + cy) % 2) * 24)
      |         ELSE 32 + (((hm * hm + hm * 7919) % 1000003) % 4) * 48 + ((bx + cy) % 2) * 24 END AS v
      |  FROM jhm),
      |jbits AS (SELECT a.doc_id, a.cy * 8 + a.bx AS idx,
      |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
      |  FROM jcells a JOIN jcells b ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.bx = a.bx + 1
      |  WHERE a.bx < 8),
      |jhashes AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN idx >= 32 THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN idx < 32 THEN bit * (1::BIGINT << idx) ELSE 0 END) AS BIGINT) AS lo
      |  FROM jbits GROUP BY doc_id),
      |jbands AS (
      |  SELECT doc_id, hi, lo, 0 AS bidx, lo % 65536 AS bv FROM jhashes
      |  UNION ALL SELECT doc_id, hi, lo, 1, lo // 65536 FROM jhashes
      |  UNION ALL SELECT doc_id, hi, lo, 2, hi % 65536 FROM jhashes
      |  UNION ALL SELECT doc_id, hi, lo, 3, hi // 65536 FROM jhashes),
      |jpairs AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
      |    a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
      |  FROM jbands a JOIN jbands b
      |    ON a.bidx = b.bidx AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |jfp AS (SELECT * FROM jpairs
      |  WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 6)""".stripMargin

  /** Image near-dup pairs (l67/l68): REAL PNG decode -> perceptual dHash ->
    * 4x16-bit banded LSH candidate join -> Hamming confirm <= 6. Keyed
    * join on (band position, band value) — never all-pairs; hashes are
    * computed once and lineage-cut so the self-join doesn't re-decode.
    * Same hot-bucket discipline as the text stack (minhashCandidatePairs):
    * a degenerate band value at corpus scale (solid-color boilerplate
    * images hash identically) would otherwise make one bucket quadratic —
    * buckets past `maxBucket` are dropped before the pair join and counted
    * in an accumulator, and singleton buckets never enter it. The cap does
    * not bind at the sf0.01 gate scale (largest bucket there is ~6 docs),
    * so the DuckDB oracle derivation is unchanged.
    */
  /** Per-doc image dHashes + LSH bands (decode on a cores-partitioned
    * codec stage, lineage-cut) — shared by [[imagePairs]] and the ratchet
    * accounting tool (graft.tools.ImageRatchet).
    */
  private[graft] def imageHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.ImageOps
    // cores-not-bytes partitioning: the decode+hash stage is CPU-bound
    // (~140 us/image single-thread), so inheriting the metadata file's
    // 1-2 planned partitions serializes the whole corpus decode
    val ids = documents(s, d).select(col("doc_id"))
      .repartition(codecParallelism(s)).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val (hi, lo) = ImageOps.dHash(ImageOps.decode(ImageOps.neardupPng(id)))
        (id, hi, lo, Array(lo & 0xffffL, lo >> 16, hi & 0xffffL, hi >> 16))
      }
    }.toDF("doc_id", "hi", "lo", "bands").cut()
  }

  private[graft] def imagePairs(s: SparkSession, d: String,
      maxBucket: Int = 1000, failOnDrop: Boolean = true): DataFrame =
    bandedHashPairs(imageHashes(s, d), maxBucket, failOnDrop, maxHamming = 6,
      what = "image dHash")

  /** Audio near-dup pairs (l70): REAL WAV decode -> energy-envelope hash ->
    * the same 4x16-bit banded-LSH candidate join + Hamming confirm <= 6 as
    * the image stack — one [[bandedHashPairs]] discipline across
    * modalities. Hashes are computed once per doc on a cores-partitioned
    * codec stage and lineage-cut so the self-join doesn't re-decode.
    */
  private[queries] def audioPairs(s: SparkSession, d: String,
      maxBucket: Int = 1000, failOnDrop: Boolean = true): DataFrame = {
    import s.implicits._
    import graft.functions.AudioOps
    val ids = documents(s, d).select(col("doc_id"))
      .repartition(codecParallelism(s)).as[Long]
    val hashes = ids.mapPartitions { it =>
      it.map { id =>
        val (hi, lo) = AudioOps.envelopeHash(AudioOps.decode(AudioOps.neardupWav(id)))
        (id, hi, lo, Array(lo & 0xffffL, lo >> 16, hi & 0xffffL, hi >> 16))
      }
    }.toDF("doc_id", "hi", "lo", "bands").cut()
    bandedHashPairs(hashes, maxBucket, failOnDrop, maxHamming = 6,
      what = "audio envelope")
  }

  /** Banded-LSH candidate pair join shared by the perceptual-hash near-dup
    * stacks (image dHash l67/l68, audio envelope l70): explode each doc's
    * band values tagged with their position, join docs sharing a
    * (position, value) bucket, Hamming-confirm on the full 64-bit hash —
    * keyed join, never all-pairs; singleton buckets never enter the join;
    * oversized buckets go through the [[capBuckets]] fail-loud/drop
    * discipline. `hashes` must carry (doc_id, hi, lo, bands[4]).
    */
  private[graft] def bandedHashPairs(hashes: DataFrame, maxBucket: Int,
      failOnDrop: Boolean, maxHamming: Int, what: String): DataFrame = {
    // band value tagged with its position so only same-position bands collide
    val bands = hashes
      .select(col("doc_id"), col("hi"), col("lo"), posexplode(col("bands")))
      .withColumnRenamed("pos", "bidx").withColumnRenamed("col", "bv")
    val counted = bands.groupBy(col("bidx"), col("bv"))
      .agg(count(lit(1)).as("k"))
      .filter(col("k") > 1)
    val liveBuckets = capBuckets(counted, maxBucket, failOnDrop, what)
      .select(col("bidx"), col("bv"))
    val kept = bands.join(liveBuckets, Seq("bidx", "bv"))
    val left = kept.select(col("doc_id").as("ida"), col("hi").as("hia"),
      col("lo").as("loa"), col("bidx"), col("bv"))
    val right = kept.select(col("doc_id").as("idb"), col("hi").as("hib"),
      col("lo").as("lob"), col("bidx"), col("bv"))
    left.join(right, Seq("bidx", "bv"))
      .where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        expr("bit_count(hia ^ hib) + bit_count(loa ^ lob)")
          .cast("long").as("hamming"))
      // Hamming confirm BEFORE the dedup exchange: hamming is a function of
      // the pair, so filter-then-distinct equals distinct-then-filter, and
      // the false candidates (band collision, hamming > max) never pay the
      // distinct's shuffle (guide §2.3: shuffle fewer bytes).
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Codec-stage task count: `spark.graft.codec.parallelism`, defaulting
    * to the executor core count. The decode stages (image l10/l13/l67/l68,
    * audio l69/l70) repartition to THIS, not to the (tiny) metadata file
    * layout — cores-not-bytes. The knob exists because javax.imageio
    * measurably DEGRADES under sustained 32-thread tiny-image
    * decode (Cleaner/GC backlog from per-call stream+codec objects):
    * ms-scale real-corpus decodes amortize that and keep the default,
    * tiny-payload corpora can cap the codec stage below core count
    * (A/B'd at the 500k-doc ratchet in BENCH_NOTES_r16).
    */
  private def codecParallelism(s: SparkSession): Int = {
    val p = s.conf.getOption("spark.graft.codec.parallelism").map(_.toInt)
      .getOrElse(s.sparkContext.defaultParallelism)
    require(p > 0, s"spark.graft.codec.parallelism must be positive, got $p")
    p
  }

  /** LSH bucket-cap mode for the graded near-dup entries:
    * `spark.graft.lsh.failOnDrop` (default TRUE — a binding cap raises
    * loudly, because the DuckDB oracles model no cap). Ratchet runs at
    * 500k+ docs set it to false CONSCIOUSLY: there the synthetic hash
    * space concentrates (a dHash band bucket hits k=1144 at 500k), the
    * cap is doing its scale job, and the run accounts for drops with its
    * own deterministic aggregate (tools/ImageRatchet) instead of an
    * oracle.
    */
  private def lshFailOnDrop(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.lsh.failOnDrop").forall(_.toBoolean)

  /** Connected components over (ida, idb) pairs: (doc_id, cluster_id)
    * with cluster_id = the component's minimum doc_id. Min-label
    * propagation with a per-round lineage cut: rounds = component
    * diameter, small for near-dup clusters; at larger diameters swap in
    * alternating small-star/large-star contraction (Kiveris et al.) on
    * the same edge DataFrame. Docs in no pair are implicit singletons and
    * are not emitted. Under `spark.graft.checkpointDir` every round's cut
    * is reliable ([[Lineage]]), so a long run survives executor loss.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("ida").as("src"), col("idb").as("dst"))
      .unionAll(pairs.select(col("idb").as("src"), col("ida").as("dst"))).cut()
    fixpoint("label propagation", propagationStart(edges), PropagationRounds)(
        propagationRound(edges, _, _))
      .state.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Round cap of [[connectedComponents]] (rounds = component diameter). */
  private val PropagationRounds = 25

  /** Bytes per frontier row, (dst, nl) longs, for the broadcast bound. */
  private val FrontierRowBytes = 16L

  /** Round-0 labels over the symmetrized edges: every node labels itself,
    * and every row counts as changed, so round 1 joins the full set.
    */
  private[queries] def propagationStart(edges: DataFrame): DataFrame =
    edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"), lit(true).as("chg")).cut()

  /** One min-label propagation round over `labels` (doc_id, label, chg).
    * Semi-naive ("delta-frontier"): the edges join only the labels that
    * CHANGED last round. An unchanged neighbor v already pushed its label
    * to every neighbor in the round after v's last change, so dropping it
    * from the join leaves every per-round label state bit-identical to the
    * full join (standard semi-naive evaluation; PropagationFrontierSpec
    * pins round-by-round equality, LshCapSpec the final clusters against
    * star contraction). The round keeps one exchange (union + groupBy; a
    * left join against a separately aggregated prop measured worse at
    * sf0.1, an extra exchange and join stage per round). The changed-row
    * count is observed on the round's cut and is both the convergence test
    * (0 changes is the old unchanged-label fixpoint, on the same round) and
    * the next frontier's size: once rows × 16 B fits Spark's own
    * `spark.sql.autoBroadcastJoinThreshold` the frontier is broadcast, and
    * late rounds scan the edge cut map-side instead of shuffling |E|+|V|
    * rows (at 100 TB the frontier collapses after the first rounds while
    * |E| does not).
    */
  private[queries] def propagationRound(edges: DataFrame, labels: DataFrame,
      last: Option[Map[String, Any]]): Lineage.Round = {
    val frontier = labels.filter(col("chg"))
      .select(col("doc_id").as("dst"), col("label").as("nl"))
    val bcastBytes = edges.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    val small = last.exists(_("nchg").asInstanceOf[Long] * FrontierRowBytes <= bcastBytes)
    val prop = edges.join(if (small) broadcast(frontier) else frontier, "dst")
      .select(col("src").as("doc_id"), col("nl").as("label"), lit(false).as("old"))
    val next = labels
      .select(col("doc_id"), col("label"), lit(true).as("old"))
      .unionAll(prop)
      .groupBy("doc_id").agg(min(col("label")).as("label"),
        min(when(col("old"), col("label"))).as("lold"))
      // every doc_id has exactly one `old` row, so lold is its previous
      // label and never null
      .select(col("doc_id"), col("label"), (col("label") < col("lold")).as("chg"))
    Lineage.Round(next, Seq(count(when(col("chg"), 1)).as("nchg")),
      _("nchg").asInstanceOf[Long] == 0L)
  }

  /** One star-contraction half-round. Each star used to be a groupBy(u) +
    * join back on u — two exchanges of the edge list per star plus the join
    * itself. min() OVER (PARTITION BY u) attaches the same per-u minimum in
    * ONE exchange (guide §2.4: two operations keyed the same way share one
    * partitioning), and large-star's trailing distinct is dropped because
    * small-star's final distinct canonicalizes the round's edge set anyway
    * (duplicate intermediate edges change no min and no output set).
    * 6 exchanges per round -> 3; identical results (LshCapSpec pins
    * star == propagation; the before/after round plans are in plans/r17).
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy(col("u"))
    nbrs.withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("u"))
    val withM = e.withColumn("m", min(col("v")).over(w))
    withM.select(col("u"), col("m").as("v"))
      .unionAll(withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): rounds are O(log^2 n) regardless of component DIAMETER,
    * where [[connectedComponents]]' min-label propagation needs
    * diameter-many rounds. Near-dup clusters are shallow, so l14 uses
    * propagation (fewer, cheaper rounds there); chain-shaped graphs
    * (e.g. transitive similarity at loose thresholds, citation/link
    * graphs) need this variant — a diameter-10^4 chain is 25 propagation
    * rounds from converging and ~13 star rounds total.
    *
    * Each round: large-star links every neighbor larger than u to
    * min(N(u) u {u}) — computed from the symmetrized edge list, one
    * groupBy; small-star then links u and its (all smaller) neighbors to
    * their minimum. The edge set is kept canonical (u > v, distinct);
    * the fixpoint test compares (count, hash-sum) between rounds — two
    * cheap aggregates, no self-join. At the fixpoint edges ARE the star
    * (node -> component minimum), so labels fall out directly; roots
    * label themselves, matching [[connectedComponents]] exactly.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame =
    starComponents(pairs).state

  /** [[connectedComponentsStar]]'s (doc_id, cluster_id) labels and the
    * contraction rounds they took.
    */
  private[graft] def starComponents(pairs: DataFrame): Lineage.Fixpoint = {
    val start = pairs
      .select(greatest(col("ida"), col("idb")).as("u"),
        least(col("ida"), col("idb")).as("v"))
      .filter(col("u") =!= col("v")).distinct().cut()
    // decimal hash sum: a long sum of 2^63-range hashes overflows under ANSI
    val fp = fixpoint("star contraction", start, StarRounds) { (edges, last) =>
      Lineage.Round(smallStar(largeStar(edges)),
        Seq(count(lit(1)).as("n"),
          sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("h")),
        m => m("n").asInstanceOf[Long] == 0L || last.contains(m))
    }
    val edges = fp.state
    val roots = edges.select(col("v")).distinct()
      .join(edges.select(col("u")).distinct(),
        col("v") === col("u"), "left_anti")
      .select(col("v").as("doc_id"), col("v").as("cluster_id"))
    fp.copy(state = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionAll(roots))
  }

  /** Round cap of [[connectedComponentsStar]]: O(log^2 n) rounds. */
  private val StarRounds = 20

  /** Round cap of l59's relaxation (rounds = provenance DAG depth + 1). */
  private val LineageRounds = 64

  private val allStopwords =
    """'the','a','of','to','and','in','is','it','der','die','und','das','ist',
      |'nicht','ein','le','la','et','les','des','est','une','el','los','y',
      |'una','es','por','con'""".stripMargin.replace("\n", "")

  private val enS = "'the','a','of','to','and','in','is','it'"
  private val deS = "'der','die','und','das','ist','nicht','ein'"
  private val frS = "'le','la','et','les','des','est','une'"
  private val esS = "'el','los','y','una','es','por','con'"

  val oracles: Map[String, String] = Map(

    // The Bloom prefilter is a superset filter with exact confirmation,
    // so the oracle is the PLAIN exact join — any Bloom false negative
    // (impossible by construction) or a confirm bug would hash-mismatch.
    "l76_bloom_decontamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    [w[i] || '_' || w[i+1] || '_' || w[i+2]
        |     for i in generate_series(1, len(w) - 2)]) s FROM toks),
        |p AS (SELECT doc_id, unnest(s) sh FROM sh),
        |e AS (SELECT DISTINCT sh FROM p WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, sh FROM p WHERE doc_id % 97 <> 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM c JOIN e USING (sh)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // Identical double arithmetic (x * 127.0 / maxabs, round half away
    // from zero) then integer-exact dot products — no rounding epsilon
    // anywhere in the output.
    "l77_int8_quant_ann" ->
      """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) maxabs FROM e0),
        |e AS (SELECT vec_id,
        |    [CAST(round(x * 127.0 / maxabs) AS BIGINT) for x in v] qv
        |  FROM m WHERE maxabs > 0),
        |q AS (SELECT vec_id qid, qv qqv FROM e WHERE vec_id < 4),
        |scored AS (SELECT q.qid, e.vec_id,
        |    CAST(list_sum([q.qqv[i] * e.qv[i]
        |      for i in generate_series(1, len(e.qv))]) AS BIGINT) idot
        |  FROM e JOIN q ON e.vec_id <> q.qid),
        |ranked AS (SELECT qid, vec_id neighbor_id, idot,
        |    row_number() OVER (PARTITION BY qid ORDER BY idot DESC, vec_id) rn
        |  FROM scored)
        |SELECT qid, neighbor_id, idot FROM ranked WHERE rn <= 5
        |ORDER BY qid, idot DESC, neighbor_id""".stripMargin,

    // The identical 3 Lloyd iterations replayed in SQL: per-iteration
    // centroids rounded to 6 dp on both sides make the replay exact (the
    // ~1e-13 double-sum order differences sit five orders below the
    // rounding quantum); empty cells keep the previous centroid via the
    // same LEFT JOIN + coalesce.
    "l79_kmeans_train" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |c0 AS (SELECT vec_id::BIGINT cid, v cv FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cid cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i])
        |          for i in generate_series(1, len(e.v))]) ASC, c.cid) rn
        |    FROM e, c0 c) WHERE rn = 1),
        |u1 AS (SELECT cell cid, list(cx ORDER BY pos) ucv FROM (
        |    SELECT cell, pos, round(avg(x), 6) cx FROM (
        |      SELECT cell, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos
        |      FROM a1) GROUP BY cell, pos) GROUP BY cell),
        |c1 AS (SELECT c.cid, coalesce(u.ucv, c.cv) cv
        |    FROM c0 c LEFT JOIN u1 u ON c.cid = u.cid),
        |a2 AS (SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cid cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i])
        |          for i in generate_series(1, len(e.v))]) ASC, c.cid) rn
        |    FROM e, c1 c) WHERE rn = 1),
        |u2 AS (SELECT cell cid, list(cx ORDER BY pos) ucv FROM (
        |    SELECT cell, pos, round(avg(x), 6) cx FROM (
        |      SELECT cell, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos
        |      FROM a2) GROUP BY cell, pos) GROUP BY cell),
        |c2 AS (SELECT c.cid, coalesce(u.ucv, c.cv) cv
        |    FROM c1 c LEFT JOIN u2 u ON c.cid = u.cid),
        |a3 AS (SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cid cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i])
        |          for i in generate_series(1, len(e.v))]) ASC, c.cid) rn
        |    FROM e, c2 c) WHERE rn = 1),
        |u3 AS (SELECT cell cid, list(cx ORDER BY pos) ucv FROM (
        |    SELECT cell, pos, round(avg(x), 6) cx FROM (
        |      SELECT cell, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos
        |      FROM a3) GROUP BY cell, pos) GROUP BY cell),
        |c3 AS (SELECT c.cid, coalesce(u.ucv, c.cv) cv
        |    FROM c2 c LEFT JOIN u3 u ON c.cid = u.cid),
        |af AS (SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cid cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i])
        |          for i in generate_series(1, len(e.v))]) ASC, c.cid) rn
        |    FROM e, c3 c) WHERE rn = 1)
        |SELECT af.cell, CAST(count(*) AS BIGINT) n_members,
        |  round(any_value(c.cv)[1], 4) c0,
        |  round(sqrt(list_sum([x*x for x in any_value(c.cv)])), 4) cnorm
        |FROM af JOIN c3 c ON af.cell = c.cid
        |GROUP BY af.cell ORDER BY af.cell""".stripMargin,

    // Both arms re-derived in SQL: brute-force truth (l06 shape) and IVF
    // nprobe=1 (l15 shape), joined on (qid, vec_id) for per-query recall.
    "l78_ann_recall_eval" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |c AS (SELECT vec_id cid, v cv FROM e WHERE vec_id < 16),
        |assign AS (SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cid cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) rn
        |    FROM e, c) WHERE rn = 1),
        |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 8),
        |truth AS (SELECT qid, vec_id FROM (
        |    SELECT q.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) rn
        |    FROM e JOIN q ON e.vec_id <> q.qid) WHERE rn <= 5),
        |probe AS (SELECT qid, qv, cell FROM (
        |    SELECT q.qid, q.qv, c.cid cell,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.cid) rn
        |    FROM q, c) WHERE rn = 1),
        |approx AS (SELECT qid, vec_id FROM (
        |    SELECT p.qid, a.vec_id,
        |      row_number() OVER (PARTITION BY p.qid
        |        ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.vec_id) rn
        |    FROM assign a JOIN probe p USING (cell)
        |    WHERE a.vec_id <> p.qid) WHERE rn <= 5)
        |SELECT t.qid,
        |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  CAST(1000 * sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    // count(*) AS BIGINT) AS recall_permille
        |FROM truth t LEFT JOIN approx ap
        |  ON t.qid = ap.qid AND t.vec_id = ap.vec_id
        |GROUP BY t.qid ORDER BY t.qid""".stripMargin,
    "l01_exact_dedup" ->
      """SELECT count(*) AS n_docs, count(DISTINCT sha256(text)) AS n_unique,
        |  count(*) - count(DISTINCT sha256(text)) AS n_dup_rows
        |FROM documents""".stripMargin,

    "l02_dedup_survivors" ->
      """SELECT count(*) AS n_survivors, CAST(sum(keep_id) AS BIGINT) AS sum_keep,
        |  max(n_copies) AS max_copies
        |FROM (SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |      FROM documents GROUP BY sha256(text))""".stripMargin,

    "l03_ngram_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |pairs AS (SELECT a.doc_id ida, b.doc_id idb,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE /
        |          len(list_distinct(list_concat(a.s, b.s))), 4) j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT ida, idb, j FROM pairs WHERE j >= 0.5 ORDER BY ida, idb""".stripMargin,

    "l04_minhash_lsh_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |pairs AS (SELECT a.doc_id ida, b.doc_id idb,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE /
        |          len(list_distinct(list_concat(a.s, b.s))), 4) j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT ida, idb, j FROM pairs WHERE j >= 0.5 ORDER BY ida, idb""".stripMargin,

    // l05/l07 pinned by tools/pin_l05_l07.py — an independent Python
    // reimplementation of the fixed-seed SimHash / hyperplane-LSH kernels
    // (FNV-1a + java.util.Random LCG from their published specs).
    "l05_simhash_pairs" ->
      """SELECT * FROM (VALUES
  (CAST(4 AS BIGINT), CAST(345 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(7 AS BIGINT), CAST(354 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(8 AS BIGINT), CAST(245 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(9 AS BIGINT), CAST(151 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(9 AS BIGINT), CAST(272 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(9 AS BIGINT), CAST(422 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(14 AS BIGINT), CAST(293 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(14 AS BIGINT), CAST(395 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(18 AS BIGINT), CAST(361 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(24 AS BIGINT), CAST(357 AS BIGINT), CAST(3 AS INTEGER)),
  (CAST(25 AS BIGINT), CAST(100 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(25 AS BIGINT), CAST(213 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(25 AS BIGINT), CAST(314 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(25 AS BIGINT), CAST(345 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(25 AS BIGINT), CAST(380 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(25 AS BIGINT), CAST(453 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(27 AS BIGINT), CAST(468 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(28 AS BIGINT), CAST(58 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(28 AS BIGINT), CAST(280 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(28 AS BIGINT), CAST(318 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(28 AS BIGINT), CAST(386 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(29 AS BIGINT), CAST(291 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(31 AS BIGINT), CAST(383 AS BIGINT), CAST(1 AS INTEGER)),
  (CAST(32 AS BIGINT), CAST(291 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(32 AS BIGINT), CAST(352 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(32 AS BIGINT), CAST(432 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(39 AS BIGINT), CAST(367 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(42 AS BIGINT), CAST(465 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(43 AS BIGINT), CAST(182 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(43 AS BIGINT), CAST(271 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(43 AS BIGINT), CAST(272 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(43 AS BIGINT), CAST(352 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(44 AS BIGINT), CAST(446 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(45 AS BIGINT), CAST(267 AS BIGINT), CAST(2 AS INTEGER)),
  (CAST(45 AS BIGINT), CAST(324 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(45 AS BIGINT), CAST(413 AS BIGINT), CAST(2 AS INTEGER)),
  (CAST(50 AS BIGINT), CAST(397 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(56 AS BIGINT), CAST(426 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(57 AS BIGINT), CAST(467 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(58 AS BIGINT), CAST(251 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(58 AS BIGINT), CAST(280 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(58 AS BIGINT), CAST(293 AS BIGINT), CAST(1 AS INTEGER)),
  (CAST(58 AS BIGINT), CAST(386 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(58 AS BIGINT), CAST(426 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(58 AS BIGINT), CAST(428 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(61 AS BIGINT), CAST(185 AS BIGINT), CAST(1 AS INTEGER)),
  (CAST(62 AS BIGINT), CAST(397 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(63 AS BIGINT), CAST(283 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(70 AS BIGINT), CAST(139 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(70 AS BIGINT), CAST(409 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(70 AS BIGINT), CAST(447 AS BIGINT), CAST(1 AS INTEGER)),
  (CAST(72 AS BIGINT), CAST(377 AS BIGINT), CAST(3 AS INTEGER)),
  (CAST(73 AS BIGINT), CAST(162 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(73 AS BIGINT), CAST(177 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(87 AS BIGINT), CAST(134 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(91 AS BIGINT), CAST(251 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(91 AS BIGINT), CAST(293 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(91 AS BIGINT), CAST(312 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(91 AS BIGINT), CAST(427 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(92 AS BIGINT), CAST(450 AS BIGINT), CAST(3 AS INTEGER)),
  (CAST(98 AS BIGINT), CAST(290 AS BIGINT), CAST(1 AS INTEGER)),
  (CAST(100 AS BIGINT), CAST(314 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(100 AS BIGINT), CAST(329 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(100 AS BIGINT), CAST(341 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(100 AS BIGINT), CAST(344 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(100 AS BIGINT), CAST(351 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(100 AS BIGINT), CAST(453 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(107 AS BIGINT), CAST(387 AS BIGINT), CAST(3 AS INTEGER)),
  (CAST(109 AS BIGINT), CAST(429 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(109 AS BIGINT), CAST(498 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(113 AS BIGINT), CAST(299 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(120 AS BIGINT), CAST(332 AS BIGINT), CAST(2 AS INTEGER)),
  (CAST(131 AS BIGINT), CAST(151 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(131 AS BIGINT), CAST(409 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(131 AS BIGINT), CAST(487 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(131 AS BIGINT), CAST(493 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(132 AS BIGINT), CAST(490 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(133 AS BIGINT), CAST(414 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(135 AS BIGINT), CAST(235 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(137 AS BIGINT), CAST(218 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(137 AS BIGINT), CAST(315 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(139 AS BIGINT), CAST(447 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(147 AS BIGINT), CAST(176 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(147 AS BIGINT), CAST(467 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(147 AS BIGINT), CAST(495 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(151 AS BIGINT), CAST(182 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(151 AS BIGINT), CAST(376 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(151 AS BIGINT), CAST(409 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(151 AS BIGINT), CAST(493 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(152 AS BIGINT), CAST(178 AS BIGINT), CAST(2 AS INTEGER)),
  (CAST(161 AS BIGINT), CAST(369 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(166 AS BIGINT), CAST(323 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(171 AS BIGINT), CAST(333 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(176 AS BIGINT), CAST(467 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(178 AS BIGINT), CAST(335 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(182 AS BIGINT), CAST(423 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(182 AS BIGINT), CAST(493 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(186 AS BIGINT), CAST(329 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(188 AS BIGINT), CAST(251 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(190 AS BIGINT), CAST(241 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(193 AS BIGINT), CAST(444 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(195 AS BIGINT), CAST(225 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(197 AS BIGINT), CAST(218 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(198 AS BIGINT), CAST(471 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(203 AS BIGINT), CAST(325 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(205 AS BIGINT), CAST(361 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(213 AS BIGINT), CAST(309 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(213 AS BIGINT), CAST(314 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(215 AS BIGINT), CAST(304 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(215 AS BIGINT), CAST(444 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(217 AS BIGINT), CAST(404 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(218 AS BIGINT), CAST(328 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(225 AS BIGINT), CAST(272 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(228 AS BIGINT), CAST(424 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(229 AS BIGINT), CAST(355 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(234 AS BIGINT), CAST(474 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(240 AS BIGINT), CAST(390 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(248 AS BIGINT), CAST(369 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(251 AS BIGINT), CAST(293 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(251 AS BIGINT), CAST(312 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(251 AS BIGINT), CAST(373 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(251 AS BIGINT), CAST(386 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(251 AS BIGINT), CAST(426 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(251 AS BIGINT), CAST(427 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(251 AS BIGINT), CAST(498 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(258 AS BIGINT), CAST(483 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(261 AS BIGINT), CAST(345 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(263 AS BIGINT), CAST(293 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(267 AS BIGINT), CAST(413 AS BIGINT), CAST(0 AS INTEGER)),
  (CAST(269 AS BIGINT), CAST(314 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(272 AS BIGINT), CAST(465 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(274 AS BIGINT), CAST(314 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(274 AS BIGINT), CAST(352 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(280 AS BIGINT), CAST(293 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(280 AS BIGINT), CAST(318 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(280 AS BIGINT), CAST(386 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(283 AS BIGINT), CAST(431 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(285 AS BIGINT), CAST(301 AS BIGINT), CAST(1 AS INTEGER)),
  (CAST(291 AS BIGINT), CAST(432 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(293 AS BIGINT), CAST(386 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(293 AS BIGINT), CAST(426 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(293 AS BIGINT), CAST(427 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(294 AS BIGINT), CAST(355 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(295 AS BIGINT), CAST(374 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(299 AS BIGINT), CAST(378 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(299 AS BIGINT), CAST(453 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(303 AS BIGINT), CAST(330 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(310 AS BIGINT), CAST(389 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(312 AS BIGINT), CAST(397 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(312 AS BIGINT), CAST(427 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(314 AS BIGINT), CAST(345 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(314 AS BIGINT), CAST(453 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(319 AS BIGINT), CAST(424 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(320 AS BIGINT), CAST(453 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(327 AS BIGINT), CAST(331 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(337 AS BIGINT), CAST(401 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(341 AS BIGINT), CAST(354 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(341 AS BIGINT), CAST(378 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(341 AS BIGINT), CAST(453 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(344 AS BIGINT), CAST(351 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(344 AS BIGINT), CAST(473 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(345 AS BIGINT), CAST(354 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(352 AS BIGINT), CAST(432 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(353 AS BIGINT), CAST(409 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(376 AS BIGINT), CAST(386 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(378 AS BIGINT), CAST(411 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(378 AS BIGINT), CAST(453 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(380 AS BIGINT), CAST(390 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(386 AS BIGINT), CAST(426 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(386 AS BIGINT), CAST(465 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(391 AS BIGINT), CAST(480 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(393 AS BIGINT), CAST(420 AS BIGINT), CAST(0 AS INTEGER)),
  (CAST(393 AS BIGINT), CAST(430 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(409 AS BIGINT), CAST(447 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(420 AS BIGINT), CAST(430 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(424 AS BIGINT), CAST(487 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(426 AS BIGINT), CAST(427 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(426 AS BIGINT), CAST(444 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(426 AS BIGINT), CAST(465 AS BIGINT), CAST(5 AS INTEGER)),
  (CAST(426 AS BIGINT), CAST(486 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(429 AS BIGINT), CAST(498 AS BIGINT), CAST(6 AS INTEGER)),
  (CAST(435 AS BIGINT), CAST(486 AS BIGINT), CAST(4 AS INTEGER)),
  (CAST(458 AS BIGINT), CAST(462 AS BIGINT), CAST(2 AS INTEGER)),
  (CAST(462 AS BIGINT), CAST(466 AS BIGINT), CAST(6 AS INTEGER))
) t(ida, idb, hamming) ORDER BY ida, idb""",

    "l07_ann_lsh" ->
      """SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(173 AS BIGINT), CAST(-0.0379 AS DOUBLE)),
  (CAST(1 AS BIGINT), CAST(66 AS BIGINT), CAST(-0.0756 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(423 AS BIGINT), CAST(0.053 AS DOUBLE)),
  (CAST(3 AS BIGINT), CAST(130 AS BIGINT), CAST(0.3999 AS DOUBLE)),
  (CAST(4 AS BIGINT), CAST(413 AS BIGINT), CAST(0.078 AS DOUBLE)),
  (CAST(4 AS BIGINT), CAST(229 AS BIGINT), CAST(0.0341 AS DOUBLE)),
  (CAST(4 AS BIGINT), CAST(369 AS BIGINT), CAST(-0.0987 AS DOUBLE)),
  (CAST(6 AS BIGINT), CAST(11 AS BIGINT), CAST(0.2359 AS DOUBLE)),
  (CAST(6 AS BIGINT), CAST(281 AS BIGINT), CAST(0.1746 AS DOUBLE)),
  (CAST(7 AS BIGINT), CAST(265 AS BIGINT), CAST(-0.0408 AS DOUBLE)),
  (CAST(7 AS BIGINT), CAST(304 AS BIGINT), CAST(-0.0791 AS DOUBLE)),
  (CAST(7 AS BIGINT), CAST(251 AS BIGINT), CAST(-0.1053 AS DOUBLE)),
  (CAST(9 AS BIGINT), CAST(462 AS BIGINT), CAST(0.124 AS DOUBLE)),
  (CAST(9 AS BIGINT), CAST(144 AS BIGINT), CAST(0.1019 AS DOUBLE)),
  (CAST(9 AS BIGINT), CAST(421 AS BIGINT), CAST(-0.1098 AS DOUBLE)),
  (CAST(11 AS BIGINT), CAST(6 AS BIGINT), CAST(0.2359 AS DOUBLE)),
  (CAST(11 AS BIGINT), CAST(281 AS BIGINT), CAST(-0.0418 AS DOUBLE)),
  (CAST(12 AS BIGINT), CAST(437 AS BIGINT), CAST(0.1743 AS DOUBLE)),
  (CAST(12 AS BIGINT), CAST(483 AS BIGINT), CAST(0.1056 AS DOUBLE)),
  (CAST(12 AS BIGINT), CAST(222 AS BIGINT), CAST(0.046 AS DOUBLE)),
  (CAST(13 AS BIGINT), CAST(55 AS BIGINT), CAST(0.2907 AS DOUBLE)),
  (CAST(14 AS BIGINT), CAST(69 AS BIGINT), CAST(0.2338 AS DOUBLE)),
  (CAST(14 AS BIGINT), CAST(157 AS BIGINT), CAST(0.0572 AS DOUBLE)),
  (CAST(14 AS BIGINT), CAST(254 AS BIGINT), CAST(0.0511 AS DOUBLE)),
  (CAST(15 AS BIGINT), CAST(331 AS BIGINT), CAST(0.2114 AS DOUBLE)),
  (CAST(15 AS BIGINT), CAST(328 AS BIGINT), CAST(0.0179 AS DOUBLE)),
  (CAST(16 AS BIGINT), CAST(216 AS BIGINT), CAST(0.3643 AS DOUBLE)),
  (CAST(16 AS BIGINT), CAST(278 AS BIGINT), CAST(0.1662 AS DOUBLE)),
  (CAST(16 AS BIGINT), CAST(378 AS BIGINT), CAST(0.1514 AS DOUBLE)),
  (CAST(17 AS BIGINT), CAST(82 AS BIGINT), CAST(0.2743 AS DOUBLE)),
  (CAST(17 AS BIGINT), CAST(407 AS BIGINT), CAST(0.1968 AS DOUBLE)),
  (CAST(17 AS BIGINT), CAST(439 AS BIGINT), CAST(0.0327 AS DOUBLE)),
  (CAST(18 AS BIGINT), CAST(468 AS BIGINT), CAST(0.2432 AS DOUBLE)),
  (CAST(18 AS BIGINT), CAST(332 AS BIGINT), CAST(-0.1539 AS DOUBLE)),
  (CAST(19 AS BIGINT), CAST(371 AS BIGINT), CAST(0.1103 AS DOUBLE)),
  (CAST(19 AS BIGINT), CAST(403 AS BIGINT), CAST(-0.0184 AS DOUBLE)),
  (CAST(19 AS BIGINT), CAST(445 AS BIGINT), CAST(-0.0338 AS DOUBLE)),
  (CAST(21 AS BIGINT), CAST(121 AS BIGINT), CAST(0.1263 AS DOUBLE)),
  (CAST(23 AS BIGINT), CAST(313 AS BIGINT), CAST(0.1777 AS DOUBLE)),
  (CAST(23 AS BIGINT), CAST(243 AS BIGINT), CAST(0.0973 AS DOUBLE)),
  (CAST(24 AS BIGINT), CAST(74 AS BIGINT), CAST(0.1055 AS DOUBLE)),
  (CAST(24 AS BIGINT), CAST(215 AS BIGINT), CAST(-0.0506 AS DOUBLE)),
  (CAST(24 AS BIGINT), CAST(68 AS BIGINT), CAST(-0.1243 AS DOUBLE)),
  (CAST(25 AS BIGINT), CAST(94 AS BIGINT), CAST(0.3022 AS DOUBLE)),
  (CAST(25 AS BIGINT), CAST(191 AS BIGINT), CAST(0.2 AS DOUBLE)),
  (CAST(25 AS BIGINT), CAST(322 AS BIGINT), CAST(0.0974 AS DOUBLE)),
  (CAST(26 AS BIGINT), CAST(162 AS BIGINT), CAST(0.352 AS DOUBLE)),
  (CAST(26 AS BIGINT), CAST(275 AS BIGINT), CAST(0.2471 AS DOUBLE)),
  (CAST(26 AS BIGINT), CAST(475 AS BIGINT), CAST(0.2223 AS DOUBLE)),
  (CAST(27 AS BIGINT), CAST(391 AS BIGINT), CAST(0.0533 AS DOUBLE)),
  (CAST(27 AS BIGINT), CAST(330 AS BIGINT), CAST(0.0197 AS DOUBLE)),
  (CAST(27 AS BIGINT), CAST(153 AS BIGINT), CAST(-0.0669 AS DOUBLE)),
  (CAST(28 AS BIGINT), CAST(233 AS BIGINT), CAST(0.1265 AS DOUBLE)),
  (CAST(28 AS BIGINT), CAST(207 AS BIGINT), CAST(0.0166 AS DOUBLE)),
  (CAST(29 AS BIGINT), CAST(264 AS BIGINT), CAST(0.3671 AS DOUBLE)),
  (CAST(30 AS BIGINT), CAST(194 AS BIGINT), CAST(-0.0408 AS DOUBLE)),
  (CAST(31 AS BIGINT), CAST(282 AS BIGINT), CAST(0.0152 AS DOUBLE)),
  (CAST(32 AS BIGINT), CAST(322 AS BIGINT), CAST(0.2531 AS DOUBLE)),
  (CAST(32 AS BIGINT), CAST(62 AS BIGINT), CAST(0.1835 AS DOUBLE)),
  (CAST(32 AS BIGINT), CAST(94 AS BIGINT), CAST(0.0353 AS DOUBLE)),
  (CAST(33 AS BIGINT), CAST(231 AS BIGINT), CAST(0.0964 AS DOUBLE)),
  (CAST(33 AS BIGINT), CAST(223 AS BIGINT), CAST(0.0823 AS DOUBLE)),
  (CAST(33 AS BIGINT), CAST(114 AS BIGINT), CAST(0.0464 AS DOUBLE)),
  (CAST(34 AS BIGINT), CAST(324 AS BIGINT), CAST(0.1046 AS DOUBLE)),
  (CAST(34 AS BIGINT), CAST(93 AS BIGINT), CAST(0.0585 AS DOUBLE)),
  (CAST(35 AS BIGINT), CAST(50 AS BIGINT), CAST(0.1511 AS DOUBLE)),
  (CAST(35 AS BIGINT), CAST(327 AS BIGINT), CAST(0.1375 AS DOUBLE)),
  (CAST(36 AS BIGINT), CAST(258 AS BIGINT), CAST(0.1007 AS DOUBLE)),
  (CAST(36 AS BIGINT), CAST(396 AS BIGINT), CAST(0.0315 AS DOUBLE)),
  (CAST(37 AS BIGINT), CAST(357 AS BIGINT), CAST(-0.1739 AS DOUBLE)),
  (CAST(38 AS BIGINT), CAST(467 AS BIGINT), CAST(0.2198 AS DOUBLE)),
  (CAST(38 AS BIGINT), CAST(95 AS BIGINT), CAST(0.103 AS DOUBLE)),
  (CAST(38 AS BIGINT), CAST(67 AS BIGINT), CAST(0.0814 AS DOUBLE)),
  (CAST(39 AS BIGINT), CAST(351 AS BIGINT), CAST(0.131 AS DOUBLE)),
  (CAST(39 AS BIGINT), CAST(43 AS BIGINT), CAST(0.0415 AS DOUBLE)),
  (CAST(39 AS BIGINT), CAST(148 AS BIGINT), CAST(-0.0334 AS DOUBLE)),
  (CAST(42 AS BIGINT), CAST(81 AS BIGINT), CAST(0.1877 AS DOUBLE)),
  (CAST(42 AS BIGINT), CAST(302 AS BIGINT), CAST(-0.166 AS DOUBLE)),
  (CAST(43 AS BIGINT), CAST(148 AS BIGINT), CAST(0.1244 AS DOUBLE)),
  (CAST(43 AS BIGINT), CAST(351 AS BIGINT), CAST(0.1018 AS DOUBLE)),
  (CAST(43 AS BIGINT), CAST(39 AS BIGINT), CAST(0.0415 AS DOUBLE)),
  (CAST(44 AS BIGINT), CAST(301 AS BIGINT), CAST(0.4597 AS DOUBLE)),
  (CAST(44 AS BIGINT), CAST(132 AS BIGINT), CAST(0.055 AS DOUBLE)),
  (CAST(44 AS BIGINT), CAST(320 AS BIGINT), CAST(-0.1132 AS DOUBLE)),
  (CAST(45 AS BIGINT), CAST(103 AS BIGINT), CAST(0.1144 AS DOUBLE)),
  (CAST(45 AS BIGINT), CAST(96 AS BIGINT), CAST(0.0754 AS DOUBLE)),
  (CAST(45 AS BIGINT), CAST(398 AS BIGINT), CAST(0.0513 AS DOUBLE)),
  (CAST(47 AS BIGINT), CAST(232 AS BIGINT), CAST(-0.0301 AS DOUBLE)),
  (CAST(48 AS BIGINT), CAST(321 AS BIGINT), CAST(0.037 AS DOUBLE)),
  (CAST(49 AS BIGINT), CAST(186 AS BIGINT), CAST(0.1316 AS DOUBLE))
) t(qid, neighbor_id, score) ORDER BY qid, score DESC, neighbor_id""",

    // Pinned by tools/pin_l12.py (independent winnowing reimplementation).
    "l12_winnow_fingerprint" ->
      """SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(7956702883311904172 AS BIGINT)),
  (CAST(1 AS BIGINT), CAST(8423850481809829499 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(-8703759462790665234 AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(5792192516823964459 AS BIGINT)),
  (CAST(4 AS BIGINT), CAST(-4368594824259665290 AS BIGINT)),
  (CAST(5 AS BIGINT), CAST(7468149558197210940 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(-6577112793612260219 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(-834682307870877465 AS BIGINT)),
  (CAST(8 AS BIGINT), CAST(-7858369930587731252 AS BIGINT)),
  (CAST(9 AS BIGINT), CAST(8321152963074072441 AS BIGINT)),
  (CAST(10 AS BIGINT), CAST(-1882592692001991666 AS BIGINT)),
  (CAST(11 AS BIGINT), CAST(1110783120403143419 AS BIGINT)),
  (CAST(12 AS BIGINT), CAST(4857833504601037970 AS BIGINT)),
  (CAST(13 AS BIGINT), CAST(3263105397501624561 AS BIGINT)),
  (CAST(14 AS BIGINT), CAST(-2778984666408142334 AS BIGINT)),
  (CAST(15 AS BIGINT), CAST(6483758863390851381 AS BIGINT)),
  (CAST(16 AS BIGINT), CAST(2708553912002589255 AS BIGINT)),
  (CAST(17 AS BIGINT), CAST(3135934750928200057 AS BIGINT)),
  (CAST(18 AS BIGINT), CAST(-5192822924903139910 AS BIGINT)),
  (CAST(19 AS BIGINT), CAST(5753460388704471274 AS BIGINT)),
  (CAST(20 AS BIGINT), CAST(3564703305061402544 AS BIGINT)),
  (CAST(21 AS BIGINT), CAST(3212276086853026424 AS BIGINT)),
  (CAST(22 AS BIGINT), CAST(976193351112369364 AS BIGINT)),
  (CAST(23 AS BIGINT), CAST(-2620543156713945301 AS BIGINT)),
  (CAST(24 AS BIGINT), CAST(-4890809041939652372 AS BIGINT)),
  (CAST(25 AS BIGINT), CAST(608027639674400828 AS BIGINT)),
  (CAST(26 AS BIGINT), CAST(3181072251609560396 AS BIGINT)),
  (CAST(27 AS BIGINT), CAST(1981953387318530418 AS BIGINT)),
  (CAST(28 AS BIGINT), CAST(-653685328320640246 AS BIGINT)),
  (CAST(29 AS BIGINT), CAST(2836998311253179038 AS BIGINT)),
  (CAST(30 AS BIGINT), CAST(-4407640573523183492 AS BIGINT)),
  (CAST(31 AS BIGINT), CAST(-6227586515740313191 AS BIGINT)),
  (CAST(32 AS BIGINT), CAST(-5561745588279922557 AS BIGINT)),
  (CAST(33 AS BIGINT), CAST(-3510366049418761048 AS BIGINT)),
  (CAST(34 AS BIGINT), CAST(-6423230022470013121 AS BIGINT)),
  (CAST(35 AS BIGINT), CAST(-8024329695821094555 AS BIGINT)),
  (CAST(36 AS BIGINT), CAST(-5319090663667742949 AS BIGINT)),
  (CAST(37 AS BIGINT), CAST(-539956262673825818 AS BIGINT)),
  (CAST(38 AS BIGINT), CAST(2300247249791342405 AS BIGINT)),
  (CAST(39 AS BIGINT), CAST(-2968192324962548399 AS BIGINT)),
  (CAST(40 AS BIGINT), CAST(5962115143304796718 AS BIGINT)),
  (CAST(41 AS BIGINT), CAST(6073147029650728917 AS BIGINT)),
  (CAST(42 AS BIGINT), CAST(8795564494945013125 AS BIGINT)),
  (CAST(43 AS BIGINT), CAST(-3704088761131028869 AS BIGINT)),
  (CAST(44 AS BIGINT), CAST(-4308175019694422236 AS BIGINT)),
  (CAST(45 AS BIGINT), CAST(-672443464394893689 AS BIGINT)),
  (CAST(46 AS BIGINT), CAST(-5106526844351318166 AS BIGINT)),
  (CAST(47 AS BIGINT), CAST(1423954230440666625 AS BIGINT)),
  (CAST(48 AS BIGINT), CAST(-7159800419671469642 AS BIGINT)),
  (CAST(49 AS BIGINT), CAST(3828679452153581786 AS BIGINT))
) t(doc_id, fp) ORDER BY doc_id""",

    "l06_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 3),
        |scored AS (SELECT q.qid, e.vec_id,
        |    list_cosine_similarity(q.qv, e.v) raw
        |  FROM e JOIN q ON e.vec_id <> q.qid),
        |ranked AS (SELECT qid, vec_id neighbor_id, round(raw, 4) score,
        |    row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vec_id) rn
        |  FROM scored)
        |SELECT qid, neighbor_id, score FROM ranked WHERE rn <= 5
        |ORDER BY qid, score DESC, neighbor_id""".stripMargin,

    "l15_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |c AS (SELECT vec_id cid, v cv FROM e WHERE vec_id < 16),
        |assign AS (SELECT vec_id, v, cell FROM (
        |  SELECT e.vec_id, e.v, c.cid cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) rn
        |    FROM e, c) WHERE rn = 1),
        |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 3),
        |probes AS (SELECT qid, qv, cell FROM (
        |  SELECT q.qid, q.qv, c.cid cell,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.cid) rn
        |    FROM q, c) WHERE rn <= 4),
        |scored AS (SELECT p.qid, a.vec_id,
        |    list_cosine_similarity(p.qv, a.v) raw
        |  FROM assign a JOIN probes p ON a.cell = p.cell
        |  WHERE a.vec_id <> p.qid),
        |ranked AS (SELECT qid, vec_id neighbor_id, round(raw, 4) score,
        |    row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vec_id) rn
        |  FROM scored)
        |SELECT qid, neighbor_id, score FROM ranked WHERE rn <= 5
        |ORDER BY qid, score DESC, neighbor_id""".stripMargin,

    "l08_text_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
        |  CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "l11_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings)
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS score
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY ida, idb""".stripMargin,

    "l41_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |a AS (SELECT vec_id aid, v av FROM e WHERE vec_id % 50 = 0),
        |scored AS (SELECT a.aid, e.vec_id,
        |    list_cosine_similarity(a.av, e.v) raw
        |  FROM e JOIN a ON e.vec_id <> a.aid),
        |pos AS (SELECT aid, 'pos' AS role, rn AS rnk, vec_id AS cand_id,
        |    round(raw, 4) AS score FROM (
        |  SELECT aid, vec_id, raw, row_number() OVER (PARTITION BY aid
        |      ORDER BY raw DESC, vec_id) rn FROM scored) WHERE rn = 1),
        |negs AS (SELECT aid, 'neg' AS role, rn AS rnk, vec_id AS cand_id,
        |    round(raw, 4) AS score FROM (
        |  SELECT aid, vec_id, raw, row_number() OVER (PARTITION BY aid
        |      ORDER BY raw DESC, vec_id) rn FROM scored WHERE raw < 0.95)
        |  WHERE rn <= 3)
        |SELECT * FROM (SELECT * FROM pos UNION ALL SELECT * FROM negs)
        |ORDER BY aid, role, rnk""".stripMargin,

    "l09_lang_quality" -> s"""
        |WITH t AS (SELECT string_split(text, ' ') w FROM documents),
        |c AS (SELECT w,
        |    len(list_filter(w, x -> x IN ($enS))) en,
        |    len(list_filter(w, x -> x IN ($deS))) de,
        |    len(list_filter(w, x -> x IN ($frS))) fr,
        |    len(list_filter(w, x -> x IN ($esS))) es,
        |    len(list_filter(w, x -> x IN ($allStopwords))) sw,
        |    len(w) nw,
        |    list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w) meanlen
        |  FROM t),
        |p AS (SELECT
        |    CASE WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
        |         WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
        |         WHEN fr > 0 AND fr >= es THEN 'fr'
        |         WHEN es > 0 THEN 'es'
        |         ELSE 'und' END predicted_lang,
        |    floor(sw::DOUBLE / nw * 10000 + 0.5) / 10000 swr,
        |    floor((least(1.0, nw / 100.0) + least(1.0, meanlen / 5.0) +
        |           least(1.0, 5.0 * sw / nw)) / 3.0 * 10000 + 0.5) / 10000 q
        |  FROM c)
        |SELECT predicted_lang, count(*) AS n,
        |  round(avg(swr), 4) AS avg_stopword_ratio,
        |  round(avg(q), 4) AS avg_quality
        |FROM p GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin,

    // Expected nearest-neighbor-resampled luma sums, recomputed from the
    // synthesis formula through the same integer sampling grid the Scala
    // resize uses — depends on every decoded + resampled pixel value.
    "l13_multimodal_pipeline" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
        |dims AS (SELECT doc_id, n, 24 + (n % 5) * 8 AS w, 24 + ((n * 3) % 7) * 4 AS h FROM m),
        |r AS (SELECT doc_id, n, w, h,
        |    CASE WHEN greatest(w, h) <= 40 THEN w
        |         ELSE greatest(1, w * 40 // greatest(w, h)) END AS rw,
        |    CASE WHEN greatest(w, h) <= 40 THEN h
        |         ELSE greatest(1, h * 40 // greatest(w, h)) END AS rh
        |  FROM dims),
        |hm AS (SELECT r.doc_id,
        |    ((((gi.i * r.w // r.rw) // 4) * 73856093 +
        |      ((gj.j * r.h // r.rh) // 4) * 19349663 +
        |      r.doc_id * 83492791) % 1000003) AS hm
        |  FROM r, generate_series(0, 39) gi(i), generate_series(0, 39) gj(j)
        |  WHERE gi.i < r.rw AND gj.j < r.rh),
        |px AS (SELECT doc_id, ((hm * hm + hm * 7919) % 1000003) % 256 AS v FROM hm),
        |lm AS (SELECT doc_id,
        |    (299 * v + 587 * ((v + 85) % 256) + 114 * ((v + 170) % 256)) // 1000 AS l
        |  FROM px)
        |SELECT (SELECT count(*) FROM r) AS n,
        |  (SELECT CAST(sum(rw) AS BIGINT) FROM r) AS sum_rw,
        |  (SELECT CAST(sum(rh) AS BIGINT) FROM r) AS sum_rh,
        |  (SELECT CAST(sum((3 + n % 15) // 3) AS BIGINT) FROM r) AS sum_sampled,
        |  CAST(sum(l) AS BIGINT) AS sum_rluma
        |FROM lm""".stripMargin,

    // pinned by tools/pin_l25.py (independent Python fixed-point k-means +
    // within-cluster cosine reimplementation; bit-exact by construction)
    "l25_semantic_dedup" ->
      """SELECT * FROM (VALUES
        |  (CAST(142 AS BIGINT), CAST(108 AS BIGINT), CAST(0.4372 AS DOUBLE)),
        |  (CAST(152 AS BIGINT), CAST(150 AS BIGINT), CAST(0.4183 AS DOUBLE)),
        |  (CAST(190 AS BIGINT), CAST(84 AS BIGINT), CAST(0.4124 AS DOUBLE)),
        |  (CAST(232 AS BIGINT), CAST(108 AS BIGINT), CAST(0.4068 AS DOUBLE)),
        |  (CAST(234 AS BIGINT), CAST(53 AS BIGINT), CAST(0.4005 AS DOUBLE)),
        |  (CAST(245 AS BIGINT), CAST(202 AS BIGINT), CAST(0.41 AS DOUBLE)),
        |  (CAST(256 AS BIGINT), CAST(75 AS BIGINT), CAST(0.4563 AS DOUBLE)),
        |  (CAST(287 AS BIGINT), CAST(238 AS BIGINT), CAST(0.4516 AS DOUBLE)),
        |  (CAST(301 AS BIGINT), CAST(44 AS BIGINT), CAST(0.4597 AS DOUBLE)),
        |  (CAST(324 AS BIGINT), CAST(166 AS BIGINT), CAST(0.474 AS DOUBLE)),
        |  (CAST(325 AS BIGINT), CAST(290 AS BIGINT), CAST(0.4588 AS DOUBLE)),
        |  (CAST(326 AS BIGINT), CAST(207 AS BIGINT), CAST(0.4168 AS DOUBLE)),
        |  (CAST(331 AS BIGINT), CAST(290 AS BIGINT), CAST(0.4129 AS DOUBLE)),
        |  (CAST(340 AS BIGINT), CAST(7 AS BIGINT), CAST(0.4928 AS DOUBLE)),
        |  (CAST(351 AS BIGINT), CAST(35 AS BIGINT), CAST(0.4065 AS DOUBLE)),
        |  (CAST(388 AS BIGINT), CAST(387 AS BIGINT), CAST(0.4666 AS DOUBLE)),
        |  (CAST(402 AS BIGINT), CAST(16 AS BIGINT), CAST(0.4463 AS DOUBLE)),
        |  (CAST(406 AS BIGINT), CAST(338 AS BIGINT), CAST(0.4827 AS DOUBLE)),
        |  (CAST(414 AS BIGINT), CAST(203 AS BIGINT), CAST(0.4098 AS DOUBLE)),
        |  (CAST(417 AS BIGINT), CAST(355 AS BIGINT), CAST(0.4007 AS DOUBLE)),
        |  (CAST(421 AS BIGINT), CAST(120 AS BIGINT), CAST(0.4104 AS DOUBLE)),
        |  (CAST(425 AS BIGINT), CAST(7 AS BIGINT), CAST(0.4075 AS DOUBLE)),
        |  (CAST(430 AS BIGINT), CAST(53 AS BIGINT), CAST(0.4079 AS DOUBLE)),
        |  (CAST(438 AS BIGINT), CAST(156 AS BIGINT), CAST(0.4749 AS DOUBLE)),
        |  (CAST(440 AS BIGINT), CAST(172 AS BIGINT), CAST(0.4315 AS DOUBLE)),
        |  (CAST(466 AS BIGINT), CAST(169 AS BIGINT), CAST(0.5128 AS DOUBLE)),
        |  (CAST(485 AS BIGINT), CAST(205 AS BIGINT), CAST(0.4074 AS DOUBLE)))
        |t(vec_id, dup_of, score)
        |ORDER BY vec_id""".stripMargin,

    // pinned by tools/pin_l35.py (independent Python PQ on the same
    // integer grid) at sf0.01 — the driver's grading scale
    "l35_pq_encode" ->
      """SELECT * FROM (VALUES
        |  (0, CAST(50 AS BIGINT), CAST(36079512282547 AS BIGINT), CAST(2221292 AS BIGINT)),
        |  (1, CAST(46 AS BIGINT), CAST(34233404095252 AS BIGINT), CAST(1963817 AS BIGINT)),
        |  (2, CAST(47 AS BIGINT), CAST(33850511182729 AS BIGINT), CAST(1922058 AS BIGINT)),
        |  (3, CAST(59 AS BIGINT), CAST(43856175755430 AS BIGINT), CAST(2709200 AS BIGINT)),
        |  (4, CAST(52 AS BIGINT), CAST(37644084150269 AS BIGINT), CAST(2297513 AS BIGINT)),
        |  (5, CAST(44 AS BIGINT), CAST(31634882930256 AS BIGINT), CAST(1840462 AS BIGINT)),
        |  (6, CAST(46 AS BIGINT), CAST(33829853760896 AS BIGINT), CAST(1885625 AS BIGINT)),
        |  (7, CAST(53 AS BIGINT), CAST(39332233832819 AS BIGINT), CAST(2279043 AS BIGINT)),
        |  (8, CAST(49 AS BIGINT), CAST(35602292864606 AS BIGINT), CAST(2036977 AS BIGINT)),
        |  (9, CAST(54 AS BIGINT), CAST(38921526575557 AS BIGINT), CAST(2003529 AS BIGINT)))
        |t(label, n, sum_err, code_checksum) ORDER BY label""".stripMargin,

    "l36_pq_adc_search" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 1, CAST(415 AS BIGINT), CAST(717478038083 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 2, CAST(478 AS BIGINT), CAST(719745732281 AS BIGINT)),
        |  (CAST(0 AS BIGINT), 3, CAST(85 AS BIGINT), CAST(794630795693 AS BIGINT)),
        |  (CAST(50 AS BIGINT), 1, CAST(79 AS BIGINT), CAST(865403946042 AS BIGINT)),
        |  (CAST(50 AS BIGINT), 2, CAST(88 AS BIGINT), CAST(895579446984 AS BIGINT)),
        |  (CAST(50 AS BIGINT), 3, CAST(91 AS BIGINT), CAST(896195626921 AS BIGINT)),
        |  (CAST(100 AS BIGINT), 1, CAST(202 AS BIGINT), CAST(759135768186 AS BIGINT)),
        |  (CAST(100 AS BIGINT), 2, CAST(398 AS BIGINT), CAST(761305652526 AS BIGINT)),
        |  (CAST(100 AS BIGINT), 3, CAST(374 AS BIGINT), CAST(767953113133 AS BIGINT)),
        |  (CAST(150 AS BIGINT), 1, CAST(160 AS BIGINT), CAST(811225612937 AS BIGINT)),
        |  (CAST(150 AS BIGINT), 2, CAST(224 AS BIGINT), CAST(886404956988 AS BIGINT)),
        |  (CAST(150 AS BIGINT), 3, CAST(420 AS BIGINT), CAST(888242244676 AS BIGINT)),
        |  (CAST(200 AS BIGINT), 1, CAST(480 AS BIGINT), CAST(876167352436 AS BIGINT)),
        |  (CAST(200 AS BIGINT), 2, CAST(32 AS BIGINT), CAST(899626490412 AS BIGINT)),
        |  (CAST(200 AS BIGINT), 3, CAST(204 AS BIGINT), CAST(915251510278 AS BIGINT)),
        |  (CAST(250 AS BIGINT), 1, CAST(477 AS BIGINT), CAST(765072254261 AS BIGINT)),
        |  (CAST(250 AS BIGINT), 2, CAST(380 AS BIGINT), CAST(864574560247 AS BIGINT)),
        |  (CAST(250 AS BIGINT), 3, CAST(475 AS BIGINT), CAST(892058662246 AS BIGINT)),
        |  (CAST(300 AS BIGINT), 1, CAST(475 AS BIGINT), CAST(799265119579 AS BIGINT)),
        |  (CAST(300 AS BIGINT), 2, CAST(285 AS BIGINT), CAST(827615122386 AS BIGINT)),
        |  (CAST(300 AS BIGINT), 3, CAST(134 AS BIGINT), CAST(890829020010 AS BIGINT)),
        |  (CAST(350 AS BIGINT), 1, CAST(374 AS BIGINT), CAST(742223763650 AS BIGINT)),
        |  (CAST(350 AS BIGINT), 2, CAST(479 AS BIGINT), CAST(792216287426 AS BIGINT)),
        |  (CAST(350 AS BIGINT), 3, CAST(398 AS BIGINT), CAST(837985736669 AS BIGINT)),
        |  (CAST(400 AS BIGINT), 1, CAST(361 AS BIGINT), CAST(933558470578 AS BIGINT)),
        |  (CAST(400 AS BIGINT), 2, CAST(329 AS BIGINT), CAST(941473099283 AS BIGINT)),
        |  (CAST(400 AS BIGINT), 3, CAST(94 AS BIGINT), CAST(976927673529 AS BIGINT)),
        |  (CAST(450 AS BIGINT), 1, CAST(325 AS BIGINT), CAST(847714163656 AS BIGINT)),
        |  (CAST(450 AS BIGINT), 2, CAST(32 AS BIGINT), CAST(903561017039 AS BIGINT)),
        |  (CAST(450 AS BIGINT), 3, CAST(471 AS BIGINT), CAST(903776233174 AS BIGINT)))
        |t(qid, rank, vec_id, adist) ORDER BY qid, rank""".stripMargin,

    // injection reproduced verbatim; DuckDB regexp_replace needs the 'g'
    // flag to match Spark's replace-all semantics
    "l26_pii_redaction" ->
      """WITH inj AS (
        |  SELECT lang,
        |    text
        |      || CASE WHEN doc_id % 3 = 0
        |           THEN ' contact u' || doc_id || '@example.com' ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN ' call 555-' || (1000 + doc_id % 9000) ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0
        |           THEN ' from 10.' || (doc_id % 256) || '.' || (doc_id % 256)
        |                || '.' || (doc_id % 100) ELSE '' END AS t
        |  FROM documents),
        |red AS (
        |  SELECT lang, t,
        |    len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS n_phone,
        |    len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |        '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS red
        |  FROM inj)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
        |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
        |  CAST(sum(len(t) - len(red)) AS BIGINT) AS chars_removed
        |FROM red GROUP BY lang ORDER BY lang""".stripMargin,

    // the oracle IS the naive single-window plan the implementation avoids
    "l27_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tokens,
        |    sum(tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS start
        |  FROM t)
        |SELECT CAST(start // 512 AS BIGINT) AS seq_id, count(*) AS n_docs,
        |  min(doc_id) AS first_doc, CAST(sum(tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "l28_keyword_extract" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |r AS (
        |  SELECT tf.doc_id, tf.word, tf.tf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.word ASC) AS rk
        |  FROM tf JOIN df USING (word))
        |SELECT word, count(*) AS n_docs_keyword, CAST(sum(tf) AS BIGINT) AS sum_tf
        |FROM r WHERE rk <= 3 GROUP BY word ORDER BY word""".stripMargin,

    // plain anti-join against the corpus — the bloom-pruned two-phase plan
    // must keep exactly this survivor set
    "l29_incremental_dedup" ->
      """WITH h AS (
        |  SELECT doc_id, lang, sha256(text) AS h FROM documents),
        |corpus AS (SELECT * FROM h WHERE doc_id < 300),
        |batch AS (SELECT * FROM h WHERE doc_id >= 200)
        |SELECT lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "l31_bigram_perplexity" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest([w[i] for i in generate_series(1, len(w) - 1)]) AS w1,
        |         unnest([w[i+1] for i in generate_series(1, len(w) - 1)]) AS w2
        |       FROM toks WHERE len(w) >= 2),
        |c2 AS (SELECT w1, w2, count(*) c12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) cnt1 FROM bg GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(-avg(ln(c12::DOUBLE / cnt1)), 6) AS nll
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "l32_deterministic_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  ORDER BY (doc_id * 998244353 + 12345) % 1000000007, doc_id
        |  LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    "l33_leakage_free_split" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |p AS (SELECT ida, idb FROM (
        |  SELECT a.doc_id ida, b.doc_id idb,
        |      round(len(list_intersect(a.s, b.s))::DOUBLE /
        |            len(list_distinct(list_concat(a.s, b.s))), 4) j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5),
        |edges AS (SELECT ida a, idb b FROM p UNION SELECT idb, ida FROM p),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
        |labeled AS (
        |  SELECT d.doc_id, d.n_chars,
        |    coalesce(l.cluster_id, d.doc_id) AS cluster,
        |    CASE WHEN (coalesce(l.cluster_id, d.doc_id) * 998244353 + 12345)
        |           % 1000000007 % 10 < 2 THEN 'test' ELSE 'train' END AS part
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
        |straddle AS (
        |  SELECT max(np) AS max_parts_per_cluster FROM (
        |    SELECT cluster, count(DISTINCT part) AS np FROM labeled GROUP BY cluster))
        |SELECT part, count(*) AS n_docs,
        |  count(DISTINCT cluster) AS n_clusters,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT max_parts_per_cluster FROM straddle) AS max_parts_per_cluster
        |FROM labeled GROUP BY part ORDER BY part""".stripMargin,

    "l38_bpe_merges" ->
      """SELECT * FROM (VALUES
        |  (1, 'e r', CAST(4568 AS BIGINT)),
        |  (2, 'i n', CAST(2760 AS BIGINT)),
        |  (3, 'o w', CAST(2747 AS BIGINT)))
        |t(round, pair, cnt) ORDER BY round""".stripMargin,

    "l39_bpe_encode" ->
      """SELECT * FROM (VALUES
        |  ('de', CAST(3549 AS BIGINT), CAST(13280 AS BIGINT), CAST(16046 AS BIGINT), CAST(1208 AS BIGINT)),
        |  ('en', CAST(11757 AS BIGINT), CAST(43889 AS BIGINT), CAST(52898 AS BIGINT), CAST(1205 AS BIGINT)),
        |  ('es', CAST(3958 AS BIGINT), CAST(14814 AS BIGINT), CAST(17871 AS BIGINT), CAST(1206 AS BIGINT)),
        |  ('fr', CAST(3758 AS BIGINT), CAST(14010 AS BIGINT), CAST(16929 AS BIGINT), CAST(1208 AS BIGINT)),
        |  ('zh', CAST(4143 AS BIGINT), CAST(15541 AS BIGINT), CAST(18765 AS BIGINT), CAST(1207 AS BIGINT)))
        |t(lang, n_words, n_tokens, n_chars, chars_per_token_permille)
        |ORDER BY lang""".stripMargin,

    "l40_tokenizer_maxmatch" ->
      """SELECT * FROM (VALUES
        |  ('e', CAST(6272 AS BIGINT)),
        |  ('s', CAST(5468 AS BIGINT)),
        |  ('l', CAST(4597 AS BIGINT)),
        |  ('g', CAST(4474 AS BIGINT)),
        |  ('t', CAST(4435 AS BIGINT)),
        |  ('a', CAST(4431 AS BIGINT)),
        |  ('c', CAST(3716 AS BIGINT)),
        |  ('m', CAST(2750 AS BIGINT)),
        |  ('d', CAST(2732 AS BIGINT)),
        |  ('or', CAST(2696 AS BIGINT)))
        |t(piece, used) ORDER BY used DESC, piece""".stripMargin,

    "l43_tokenize_pack" ->
      """SELECT * FROM (VALUES
        |  (CAST(199 AS BIGINT), CAST(500 AS BIGINT), CAST(101534 AS BIGINT), CAST(5 AS BIGINT), CAST(49049 AS BIGINT)))
        |t(n_seqs, n_docs, sum_tokens, max_docs_per_seq, seq_checksum)""".stripMargin,

    "l45_vocab_growth" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |postings AS (SELECT doc_id // 50 AS bucket, unnest(s) AS shingle FROM sh),
        |firsts AS (SELECT shingle, min(bucket) AS fb FROM postings GROUP BY shingle),
        |npb AS (SELECT fb AS bucket, count(*) AS new_shingles FROM firsts GROUP BY fb)
        |SELECT bucket, new_shingles,
        |  CAST(sum(new_shingles) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_vocab
        |FROM npb ORDER BY bucket""".stripMargin,

    "l46_source_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |pairs AS (SELECT ida, idb FROM (
        |  SELECT a.doc_id ida, b.doc_id idb,
        |      round(len(list_intersect(a.s, b.s))::DOUBLE /
        |            len(list_distinct(list_concat(a.s, b.s))), 4) j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5),
        |lab AS (SELECT least(da.source, db.source) AS source_a,
        |    greatest(da.source, db.source) AS source_b
        |  FROM pairs p
        |  JOIN documents da ON da.doc_id = p.ida
        |  JOIN documents db ON db.doc_id = p.idb)
        |SELECT source_a, source_b, count(*) AS n_pairs
        |FROM lab GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    "l44_epoch_upsampling" -> s"""
        |WITH sizes AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sz
        |  FROM documents GROUP BY lang),
        |t(lang, target) AS (VALUES ('en', 60000), ('zh', 50000),
        |  ('de', 40000), ('fr', 30000), ('es', 20000)),
        |p AS (SELECT s.lang, target // sz AS "full",
        |    ((target % sz) * 1000) // sz AS fp
        |  FROM sizes s JOIN t ON s.lang = t.lang),
        |docs AS (SELECT d.lang, d.doc_id, d.n_chars,
        |    p."full" + CASE WHEN ${mixBucketSql("d.doc_id")} < p.fp
        |      THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN p ON d.lang = p.lang)
        |SELECT lang, count(*) AS n_source_docs,
        |  CAST(sum(copies) AS BIGINT) AS n_upsampled,
        |  CAST(sum(n_chars * copies) AS BIGINT) AS chars_upsampled,
        |  CAST(sum(doc_id * copies) AS BIGINT) AS mix_checksum
        |FROM docs GROUP BY lang ORDER BY lang""".stripMargin,

    "l42_balanced_shards" ->
      """WITH pos AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1 AS pos
        |  FROM documents)
        |SELECT pos % 8 AS shard, lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM pos GROUP BY 1, 2 ORDER BY shard, lang""".stripMargin,

    "l37_importance_weights" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |src AS (SELECT w, count(*) cs FROM toks GROUP BY w),
        |tgt AS (SELECT w, count(*) ct FROM toks WHERE lang = 'en' GROUP BY w),
        |vocab AS (SELECT s.w, cs, coalesce(ct, 0) AS ct
        |          FROM src s LEFT JOIN tgt t ON s.w = t.w),
        |tot AS (SELECT CAST(sum(cs) AS BIGINT) ts, CAST(sum(ct) AS BIGINT) tt,
        |          count(*) v FROM vocab),
        |ratio AS (SELECT w, ln((ct + 1.0) / (tt + v) * ((ts + v) / (cs + 1.0))) logr
        |          FROM vocab, tot)
        |SELECT doc_id, count(*) AS n_tokens, round(sum(logr), 6) AS logw
        |FROM toks JOIN ratio USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "l34_chunk_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |ch AS (SELECT doc_id,
        |         unnest([array_to_string(w[i:i+9], ' ')
        |                 for i in generate_series(1, len(w), 10)]) AS chunk
        |       FROM toks),
        |sv AS (SELECT chunk, min(doc_id) AS keeper FROM ch GROUP BY chunk)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN keeper = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM ch JOIN sv USING (chunk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The oracle recomputes expected DECODED pixel sums analytically from
    // the synthesis formula (PNG is lossless): per-channel sums over every
    // pixel of every image. A decode stub cannot reproduce these.
    "l10_image_decode" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
        |dims AS (SELECT doc_id, 24 + (n % 5) * 8 AS w, 24 + ((n * 3) % 7) * 4 AS h FROM m),
        |hm AS (SELECT d.doc_id,
        |    ((gx.x // 4) * 73856093 + (gy.y // 4) * 19349663 + d.doc_id * 83492791) % 1000003 AS hm
        |  FROM dims d, generate_series(0, 55) gx(x), generate_series(0, 47) gy(y)
        |  WHERE gx.x < d.w AND gy.y < d.h),
        |px AS (SELECT doc_id, ((hm * hm + hm * 7919) % 1000003) % 256 AS v FROM hm)
        |SELECT (SELECT count(*) FROM dims) AS n,
        |  (SELECT CAST(sum(w) AS BIGINT) FROM dims) AS sum_w,
        |  (SELECT CAST(sum(h) AS BIGINT) FROM dims) AS sum_h,
        |  (SELECT CAST(3 * count(*) AS BIGINT) FROM dims) AS sum_channels,
        |  CAST(sum(v) AS BIGINT) AS sum_r,
        |  CAST(sum((v + 85) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((v + 170) % 256) AS BIGINT) AS sum_b
        |FROM px""".stripMargin,

    // dHash truth derived from the same grid arithmetic the pixels encode
    // (36x32 = exactly 9x8 cells of 4x4, so each dHash cell average IS the
    // block value); banding + Hamming confirm mirrored relationally.
    // Third check: tools/pin_l67.py decodes the actual PNG bytes with a
    // pure-stdlib Python PNG reader; its hashes are pinned in ImageOpsSpec.
    "l67_image_neardup" ->
      s"""WITH $imagePairsCtes
        |SELECT ida, idb,
        |  CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT) AS hamming
        |FROM fp
        |ORDER BY ida, idb""".stripMargin,

    // keep-list truth: transitive closure (recursive CTE) over the same
    // derived pairs, min label per component — the l14 oracle shape.
    "l68_image_dedup_keep" ->
      s"""WITH RECURSIVE $imagePairsCtes,
        |edges AS (SELECT ida a, idb b FROM fp UNION SELECT idb, ida FROM fp),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, MIN(b) AS keeper,
        |  CAST(CASE WHEN MIN(b) = a THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM reach GROUP BY a
        |ORDER BY doc_id""".stripMargin,

    // The oracle recomputes expected DECODED sample sums analytically from
    // the synthesis formula (16-bit PCM WAV is lossless): per-channel sums,
    // clipping counts and integer durations over every frame of every clip,
    // then the same clipping-ratio gate. A decode stub cannot reproduce
    // these. Third check: tools/pin_l69.py parses the WAV bytes with the
    // stdlib `wave` module; its sums are pinned in AudioOpsSpec.
    "l69_audio_decode" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
        |d AS (SELECT doc_id, 400 + (n % 7) * 100 AS nf FROM m),
        |hm AS (SELECT d.doc_id, d.nf, gc.c,
        |    (gi.i * 73856093 + gc.c * 19349663 + d.doc_id * 83492791) % 1000003 AS hm
        |  FROM d, generate_series(0, 999) gi(i), generate_series(0, 1) gc(c)
        |  WHERE gi.i < d.nf),
        |sm AS (SELECT doc_id, nf, c,
        |    ((hm * hm + hm * 7919) % 1000003) % 65536 - 32768 AS v FROM hm),
        |per AS (SELECT doc_id, max(nf) AS nf,
        |    sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS sl,
        |    sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS sr,
        |    sum(CASE WHEN v >= 32000 OR v <= -32000 THEN 1 ELSE 0 END) AS ncl
        |  FROM sm GROUP BY doc_id),
        |kept AS (SELECT * FROM per WHERE ncl * 10000 <= nf * 2 * 240)
        |SELECT count(*) AS n,
        |  CAST(sum(nf) AS BIGINT) AS sum_frames,
        |  CAST(sum(sl) AS BIGINT) AS sum_left,
        |  CAST(sum(sr) AS BIGINT) AS sum_right,
        |  CAST(sum(ncl) AS BIGINT) AS sum_clipped,
        |  CAST(sum(nf // 8) AS BIGINT) AS sum_dur_ms,
        |  CAST(count(*) * 8000 AS BIGINT) AS sum_rate,
        |  CAST(count(*) * 2 AS BIGINT) AS sum_channels
        |FROM kept""".stripMargin,

    // envelope-hash truth derived from the same 1-D window arithmetic the
    // samples encode (65 windows x 16 frames of +-amp*100 square wave, so
    // each envelope cell mean IS amp*100); banding + Hamming confirm
    // mirrored relationally — the l67 oracle shape on the time axis.
    "l70_audio_neardup" ->
      s"""WITH $audioPairsCtes
        |SELECT ida, idb,
        |  CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT) AS hamming
        |FROM afp
        |ORDER BY ida, idb""".stripMargin,

    // keep-list truth: transitive closure (recursive CTE) over the same
    // derived audio pairs, min label per component — the l68 oracle shape.
    "l73_audio_dedup_keep" ->
      s"""WITH RECURSIVE $audioPairsCtes,
        |aedges AS (SELECT ida a, idb b FROM afp UNION SELECT idb, ida FROM afp),
        |areach(a, b) AS (
        |  SELECT DISTINCT a, a FROM aedges
        |  UNION
        |  SELECT r.a, e.b FROM areach r JOIN aedges e ON r.b = e.a)
        |SELECT a AS doc_id, MIN(b) AS keeper,
        |  CAST(CASE WHEN MIN(b) = a THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM areach GROUP BY a
        |ORDER BY doc_id""".stripMargin,

    // identical PII injection + identical Java∩RE2 regexes (strlen ==
    // octet_length: the corpus is ASCII and the masks are ASCII)
    "l74_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex'
        |         || CAST(doc_id % 7 AS VARCHAR) || '.org'
        |         || CASE WHEN doc_id % 3 = 0
        |              THEN ' call +1-202-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0
        |              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |                   || CAST(doc_id % 250 AS VARCHAR)
        |              ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(strlen(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')) AS BIGINT) AS scrub_len
        |FROM aug ORDER BY doc_id""".stripMargin,

    // zipped unnest gives (word, position); bigram = w || ' ' || lead(w)
    // (NULL-propagating concat on both sides); integer permille with //
    // (DuckDB) mirroring div (Spark)
    "l75_repetition_quality" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM w),
        |wc AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(max(c) AS BIGINT) AS top_w
        |  FROM (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2)
        |  GROUP BY 1),
        |gc AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(c) AS BIGINT) AS top_g
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg WHERE g IS NOT NULL GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT wc.doc_id AS doc_id, n_words, n_bigrams,
        |  CAST(1000 * (n_bigrams - n_distinct) // n_bigrams AS BIGINT) AS dup_bigram_permille,
        |  CAST(1000 * top_g // n_bigrams AS BIGINT) AS top_bigram_permille,
        |  CAST(1000 * top_w // n_words AS BIGINT) AS top_word_permille,
        |  CAST(CASE WHEN 1000 * (n_bigrams - n_distinct) // n_bigrams <= 40
        |        AND 1000 * top_g // n_bigrams <= 50 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM wc JOIN gc ON wc.doc_id = gc.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Expected decoded-frame pixel sums recomputed analytically from the
    // per-frame synthesis formula (identity-gray GIF is lossless); frame
    // counts and the stride-3 sample count come from the same arithmetic.
    // LZW-decoded container bytes must reproduce every value.
    "l72_video_frame_sample" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
        |d AS (SELECT doc_id, 4 + (n % 5) AS nf FROM m),
        |fr AS (SELECT d.doc_id, d.nf, gf.f
        |  FROM d, generate_series(0, 7) gf(f)
        |  WHERE gf.f < d.nf AND gf.f % 3 = 0),
        |hm AS (SELECT fr.doc_id,
        |    ((gx.x // 4) * 73856093 + (gy.y // 4) * 19349663 +
        |     (fr.doc_id * 16 + fr.f) * 83492791) % 1000003 AS hm
        |  FROM fr, generate_series(0, 35) gx(x), generate_series(0, 31) gy(y)),
        |px AS (SELECT doc_id, ((hm * hm + hm * 7919) % 1000003) % 256 AS v FROM hm)
        |SELECT (SELECT count(*) FROM d) AS n,
        |  (SELECT CAST(sum(nf) AS BIGINT) FROM d) AS sum_frames,
        |  (SELECT CAST(sum((nf + 2) // 3) AS BIGINT) FROM d) AS sum_sampled,
        |  CAST(sum(v) AS BIGINT) AS sum_luma
        |FROM px""".stripMargin,

    // PNG-derived truth which the lossy JPEG leg must reproduce exactly:
    // the Spark side hashes AFTER a JPEG re-encode+decode, the oracle
    // derives from the margin-quantized synthesis arithmetic — any codec
    // drift >= 1 bit flips a hash and fails the gate.
    "l71_jpeg_invariant_neardup" ->
      s"""WITH $jpegPairsCtes
        |SELECT ida, idb,
        |  CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT) AS hamming
        |FROM jfp
        |ORDER BY ida, idb""".stripMargin,

    // connected components via transitive closure (recursive CTE) over the
    // same exact-Jaccard pairs l03 grades against
    "l65_dataset_profile" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  count(DISTINCT doc_id) AS n_distinct,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_empty
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,

    "l64_minhash_agg_parity" ->
      """SELECT CAST(64 * k AS BIGINT) AS n_positions,
        |  CAST(64 * k AS BIGINT) AS n_equal
        |FROM (SELECT count(DISTINCT source) AS k FROM documents)""".stripMargin,

    "l63_oov_curve" ->
      """WITH wf AS (SELECT w AS word, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, word) AS rnk
        |  FROM wf),
        |s AS (SELECT CAST(sum(f) AS BIGINT) AS total,
        |  CAST(sum(CASE WHEN rnk > 100 THEN f ELSE 0 END) AS BIGINT) AS o100,
        |  CAST(sum(CASE WHEN rnk > 200 THEN f ELSE 0 END) AS BIGINT) AS o200,
        |  CAST(sum(CASE WHEN rnk > 400 THEN f ELSE 0 END) AS BIGINT) AS o400,
        |  CAST(sum(CASE WHEN rnk > 800 THEN f ELSE 0 END) AS BIGINT) AS o800
        |  FROM rk)
        |SELECT k, (1000 * oov) // total AS oov_permille FROM (
        |  SELECT CAST(100 AS BIGINT) AS k, o100 AS oov, total FROM s
        |  UNION ALL SELECT 200, o200, total FROM s
        |  UNION ALL SELECT 400, o400, total FROM s
        |  UNION ALL SELECT 800, o800, total FROM s)
        |ORDER BY k""".stripMargin,

    // Pinned by tools/pin_l62.py (independent integer PageRank).
"l62_copy_pagerank" ->
      """SELECT * FROM (VALUES
        |  (CAST(45 AS BIGINT), CAST(405000 AS BIGINT)),
        |  (CAST(8 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(26 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(31 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(44 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(58 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(61 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(70 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(72 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(87 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(92 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(98 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(107 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(120 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(152 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(166 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(285 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(295 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(310 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(326 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(393 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(435 AS BIGINT), CAST(277500 AS BIGINT)),
        |  (CAST(458 AS BIGINT), CAST(277500 AS BIGINT)))
        |t(doc_id, pr_micros)
        |ORDER BY pr_micros DESC, doc_id""".stripMargin,

    "l61_cluster_canonical" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') w
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_'
        |    || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |    for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |p AS (SELECT ida, idb FROM (
        |  SELECT a.doc_id ida, b.doc_id idb,
        |      round(len(list_intersect(a.s, b.s))::DOUBLE /
        |            len(list_distinct(list_concat(a.s, b.s))), 4) j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5),
        |edges AS (SELECT ida a, idb b FROM p UNION SELECT idb, ida FROM p),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cl AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
        |cj AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars,
        |    row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY d.n_chars DESC, cl.doc_id) AS rn
        |  FROM cl JOIN documents d USING (doc_id))
        |SELECT cluster_id, count(*) AS csize,
        |  max(CASE WHEN rn = 1 THEN doc_id END) AS canonical,
        |  max(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_members
        |FROM cj GROUP BY 1 ORDER BY cluster_id""".stripMargin,

    "l14_dup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |p AS (SELECT ida, idb FROM (
        |  SELECT a.doc_id ida, b.doc_id idb,
        |      round(len(list_intersect(a.s, b.s))::DOUBLE /
        |            len(list_distinct(list_concat(a.s, b.s))), 4) j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5),
        |edges AS (SELECT ida a, idb b FROM p UNION SELECT idb, ida FROM p),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        |ORDER BY doc_id""".stripMargin,

    "l21_dup_clusters_star" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |p AS (SELECT ida, idb FROM (
        |  SELECT a.doc_id ida, b.doc_id idb,
        |      round(len(list_intersect(a.s, b.s))::DOUBLE /
        |            len(list_distinct(list_concat(a.s, b.s))), 4) j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5),
        |edges AS (SELECT ida a, idb b FROM p UNION SELECT idb, ida FROM p),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        |ORDER BY doc_id""".stripMargin,

    "l30_dup_clusters_ckpt" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |p AS (SELECT ida, idb FROM (
        |  SELECT a.doc_id ida, b.doc_id idb,
        |      round(len(list_intersect(a.s, b.s))::DOUBLE /
        |            len(list_distinct(list_concat(a.s, b.s))), 4) j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.5),
        |edges AS (SELECT ida a, idb b FROM p UNION SELECT idb, ida FROM p),
        |reach(a, b) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
        |ORDER BY doc_id""".stripMargin,

    "l22_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3]
        |        || '_' || w[i+4] || '_' || w[i+5] || '_' || w[i+6] || '_' || w[i+7]
        |        for i in generate_series(1, len(w) - 7)])) g FROM toks),
        |df AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
        |tot AS (SELECT doc_id, count(*) n_spans FROM sh GROUP BY doc_id),
        |cr AS (SELECT sh.doc_id, count(*) n_cross FROM sh JOIN df USING (g)
        |       GROUP BY sh.doc_id)
        |SELECT tot.doc_id AS doc_id, n_spans, coalesce(n_cross, 0) AS n_cross,
        |  round(coalesce(n_cross, 0)::DOUBLE / n_spans, 4) AS dup_ratio
        |FROM tot LEFT JOIN cr ON tot.doc_id = cr.doc_id
        |ORDER BY tot.doc_id""".stripMargin,

    "l23_salted_topk" ->
      """SELECT lang, rk, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (
        |      PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "l24_quantile_filter" ->
      """WITH hist AS (
        |  SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, n_chars, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS tot
        |  FROM hist),
        |th AS (
        |  SELECT lang,
        |    min(CASE WHEN cum >= (tot * 5 + 99) // 100 THEN n_chars END) AS p05,
        |    min(CASE WHEN cum >= (tot * 95 + 99) // 100 THEN n_chars END) AS p95
        |  FROM cum GROUP BY lang)
        |SELECT d.lang, th.p05, th.p95, count(*) AS n_kept,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN th ON d.lang = th.lang
        |WHERE d.n_chars BETWEEN th.p05 AND th.p95
        |GROUP BY 1, 2, 3 ORDER BY d.lang""".stripMargin,

    "l16_stratified_sample" ->
      s"""WITH rates(lang, keep_permille) AS (VALUES
        |  ('en', 500), ('zh', 300), ('de', 250), ('fr', 200), ('es', 100))
        |SELECT d.lang, count(*) AS n_sampled,
        |  CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE ${mixBucketSql("d.doc_id")}
        |      < r.keep_permille
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "l17_token_budget_mix" ->
      s"""WITH budgets(lang, budget) AS (VALUES
        |  ('en', 60000), ('zh', 40000), ('de', 30000),
        |  ('fr', 20000), ('es', 10000)),
        |bucketed AS (SELECT lang, n_chars,
        |    ${mixBucketSql("doc_id")} AS bucket
        |  FROM documents),
        |totals AS (SELECT lang, bucket, sum(n_chars) AS bchars
        |  FROM bucketed GROUP BY lang, bucket),
        |kept AS (SELECT t.lang, t.bucket FROM (
        |    SELECT lang, bucket, sum(bchars) OVER (PARTITION BY lang
        |      ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM totals) t JOIN budgets b ON t.lang = b.lang
        |  WHERE t.cum <= b.budget)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM bucketed d JOIN kept k ON d.lang = k.lang AND d.bucket = k.bucket
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "l18_curation_funnel" -> s"""
        |WITH c AS (SELECT doc_id, lang, text, string_split(text, ' ') w
        |    FROM documents),
        |sc AS (SELECT doc_id, lang, text,
        |    floor((least(1.0, len(w) / 100.0) +
        |           least(1.0, (list_sum(list_transform(w, x -> len(x)))::DOUBLE
        |                       / len(w)) / 5.0) +
        |           least(1.0, 5.0 * len(list_filter(w, x -> x IN ($allStopwords)))
        |                       / len(w))) / 3.0 * 10000 + 0.5) / 10000 AS q
        |  FROM c),
        |qd AS (SELECT doc_id, lang, text FROM sc WHERE q >= 0.5),
        |ded AS (SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang, row_number() OVER (
        |      PARTITION BY sha256(text) ORDER BY doc_id) rn FROM qd)
        |  WHERE rn = 1),
        |rates(lang, keep_permille) AS (VALUES
        |  ('en', 500), ('zh', 300), ('de', 250), ('fr', 200), ('es', 100)),
        |mixed AS (SELECT d.doc_id FROM ded d JOIN rates r ON d.lang = r.lang
        |  WHERE ${mixBucketSql("d.doc_id")}
        |        < r.keep_permille)
        |SELECT (SELECT count(*) FROM documents) AS n_raw,
        |       (SELECT count(*) FROM qd) AS n_quality,
        |       (SELECT count(*) FROM ded) AS n_dedup,
        |       (SELECT count(*) FROM mixed) AS n_mixed""".stripMargin,

    "l19_decontamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    [w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' ||
        |     w[i+4] || '_' || w[i+5] || '_' || w[i+6] || '_' || w[i+7]
        |     for i in generate_series(1, len(w) - 7)]) s FROM toks),
        |p AS (SELECT doc_id, unnest(s) sh FROM sh),
        |e AS (SELECT doc_id AS eval_id, sh FROM p WHERE doc_id % 7 = 0),
        |c AS (SELECT doc_id, sh FROM p WHERE doc_id % 7 <> 0)
        |SELECT c.doc_id, count(DISTINCT c.sh) AS n_shared,
        |  min(e.eval_id) AS first_eval_id
        |FROM c JOIN e USING (sh)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "l20_repetition_filter" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
        |g AS (SELECT doc_id, lang,
        |    [w[i] || '_' || w[i+1] for i in generate_series(1, len(w) - 1)] grams
        |  FROM toks WHERE len(w) >= 2),
        |u AS (SELECT doc_id, lang, len(grams) n, unnest(grams) gram FROM g),
        |cnt AS (SELECT doc_id, lang, n, gram, count(*) c FROM u
        |  GROUP BY doc_id, lang, n, gram),
        |per_doc AS (SELECT doc_id, lang, max(n) n,
        |    CAST(sum(c - 1) AS BIGINT) dup, max(c) top
        |  FROM cnt GROUP BY doc_id, lang),
        |fr AS (SELECT lang, dup::DOUBLE / n AS dup_frac,
        |    top::DOUBLE / n AS top_frac FROM per_doc)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dup_frac > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  round(avg(dup_frac), 4) AS avg_dup_frac,
        |  round(avg(top_frac), 4) AS avg_top_frac
        |FROM fr GROUP BY lang ORDER BY lang""".stripMargin,

    "l47_intradoc_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |tri AS (SELECT doc_id,
        |    unnest(generate_series(1, len(w) - 2)) AS i,
        |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |            for i in generate_series(1, len(w) - 2)]) AS g
        |  FROM toks WHERE len(w) >= 3),
        |fst AS (SELECT doc_id, g, min(i) AS i0 FROM tri GROUP BY 1, 2),
        |dups AS (SELECT t.doc_id, t.i FROM tri t
        |  JOIN fst f ON t.doc_id = f.doc_id AND t.g = f.g WHERE t.i > f.i0),
        |cov AS (SELECT doc_id, i,
        |    CASE WHEN lead(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |      THEN 3 ELSE least(3,
        |        lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i) END AS c
        |  FROM dups),
        |scrub AS (SELECT doc_id, count(*) AS n_dup_spans,
        |    CAST(sum(c) AS BIGINT) AS n_removed FROM cov GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(s.n_dup_spans, 0) AS n_dup_spans,
        |  coalesce(s.n_removed, 0) AS n_removed,
        |  (b.n_tokens - coalesce(s.n_removed, 0)) * 1000 // b.n_tokens
        |    AS kept_permille
        |FROM base b LEFT JOIN scrub s USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "l66_crossdoc_substring_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |    unnest(generate_series(1, len(w) - 7)) AS i,
        |    unnest([array_to_string(w[i:i+7], ' ')
        |            for i in generate_series(1, len(w) - 7)]) AS g
        |  FROM toks WHERE len(w) >= 8),
        |dupg AS (SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) nd FROM sh GROUP BY g) t
        |  WHERE nd >= 2),
        |mark AS (SELECT s.doc_id, s.i FROM sh s JOIN dupg USING (g)),
        |flag AS (SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) < 8
        |      THEN 0 ELSE 1 END AS isnew
        |  FROM mark),
        |grp AS (SELECT doc_id, i,
        |    sum(isnew) OVER (PARTITION BY doc_id ORDER BY i) AS sid
        |  FROM flag),
        |agg AS (SELECT doc_id, sid, max(i) + 8 - min(i) AS removed
        |  FROM grp GROUP BY 1, 2),
        |scrub AS (SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(removed) AS BIGINT) AS n_removed FROM agg GROUP BY 1),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(s.n_spans, 0) AS n_spans,
        |  coalesce(s.n_removed, 0) AS n_removed,
        |  (b.n_tokens - coalesce(s.n_removed, 0)) * 1000 // b.n_tokens
        |    AS kept_permille
        |FROM base b LEFT JOIN scrub s USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "l48_taxonomy_tags" ->
      s"""WITH dict(w, category) AS (VALUES $taxonomyDictSql),
        |toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |per_cat AS (SELECT doc_id, lang, category, count(*) AS hits
        |  FROM toks JOIN dict USING (w) GROUP BY 1, 2, 3),
        |dom AS (SELECT doc_id, lang, category, hits FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY hits DESC, category) AS rn FROM per_cat) WHERE rn = 1),
        |tagged AS (SELECT d.doc_id, d.lang,
        |    coalesce(dom.category, 'other') AS category,
        |    coalesce(dom.hits, 0) AS hits
        |  FROM documents d LEFT JOIN dom ON d.doc_id = dom.doc_id)
        |SELECT lang, category, count(*) AS n_docs,
        |  CAST(sum(hits) AS BIGINT) AS sum_hits
        |FROM tagged GROUP BY 1, 2 ORDER BY lang, category""".stripMargin,

    "l49_incremental_neardedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_' || w[i+4]
        |        for i in generate_series(1, len(w) - 4)]) s FROM toks),
        |rej AS (SELECT DISTINCT b.doc_id FROM sh b JOIN sh c
        |  ON b.doc_id >= 400 AND c.doc_id < 400
        |  AND 2 * len(list_intersect(b.s, c.s)) >=
        |      len(list_distinct(list_concat(b.s, c.s))))
        |SELECT lang, count(*) AS n_accepted,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents d WHERE doc_id >= 400
        |  AND NOT EXISTS (SELECT 1 FROM rej r WHERE r.doc_id = d.doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Pinned by tools/pin_l50.py (independent Python Counter + binary
    // search over the same monotone repeated-n-gram predicate).
    "l50_longest_dup_span" ->
      """SELECT * FROM (VALUES
  (CAST(93 AS BIGINT), CAST(3 AS BIGINT), 'group fast fast data row data stream part stream hash stream order a scan batch order big a spark join group scan stream data spark vector query column window spark a table hash slow small sort a small big sort sort merge merge a value order merge batch fast row customer fast line agg data vector value key table line slow key column slow data window merge agg vector spark window vector merge group batch spark batch small spark table key customer column filter hash line hash scan value data slow big hash', CAST(2 AS BIGINT))
) t(max_n, n_dup_grams, min_gram, min_gram_cnt)""",

    "l51_budget_waterfill" ->
      """WITH counts AS (SELECT lang, source, count(*) AS avail
        |  FROM documents GROUP BY 1, 2),
        |b AS (SELECT (count(*) * 3) // 5 AS b FROM documents),
        |k AS (SELECT count(*) AS k FROM counts),
        |sorted AS (SELECT avail,
        |    row_number() OVER (ORDER BY avail, lang, source) AS rn,
        |    sum(avail) OVER (ORDER BY avail, lang, source
        |      ROWS UNBOUNDED PRECEDING) AS pre
        |  FROM counts),
        |bounds AS (
        |  SELECT s.avail, s.rn, s.pre, s.pre + (k.k - s.rn) * s.avail AS used
        |  FROM sorted s, k
        |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |feas AS (SELECT bounds.* FROM bounds, b WHERE bounds.used <= b.b
        |  ORDER BY rn DESC LIMIT 1),
        |lvl AS (SELECT CASE WHEN k.k = f.rn THEN f.avail
        |    ELSE f.avail + (b.b - f.used) // (k.k - f.rn) END AS t
        |  FROM feas f, k, b),
        |alloc0 AS (SELECT lang, source, avail, least(avail, t) AS a
        |  FROM counts, lvl),
        |resid AS (SELECT b.b - sum(a) AS r FROM alloc0, b GROUP BY b.b),
        |capped AS (SELECT lang, source,
        |    row_number() OVER (ORDER BY avail DESC, lang, source) AS rr
        |  FROM alloc0 WHERE avail > a),
        |alloc AS (SELECT a0.lang, a0.source, a0.avail,
        |    a0.a + CASE WHEN c.rr IS NOT NULL AND c.rr <= r.r
        |      THEN 1 ELSE 0 END AS alloc
        |  FROM alloc0 a0 CROSS JOIN resid r
        |  LEFT JOIN capped c ON a0.lang = c.lang AND a0.source = c.source),
        |ranked AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY ((doc_id % 1000003) * 998244353 + 12345) % 1000007,
        |        doc_id) AS rn
        |  FROM documents),
        |sel AS (SELECT rk.lang, rk.source, rk.doc_id
        |  FROM ranked rk JOIN alloc al
        |    ON rk.lang = al.lang AND rk.source = al.source
        |  WHERE rk.rn <= al.alloc)
        |SELECT al.lang, al.source, al.avail, CAST(al.alloc AS BIGINT) AS alloc,
        |  CAST(coalesce(sum(s.doc_id), 0) AS BIGINT) AS sum_sel
        |FROM alloc al LEFT JOIN sel s
        |  ON al.lang = s.lang AND al.source = s.source
        |GROUP BY 1, 2, 3, 4 ORDER BY al.lang, al.source""".stripMargin,

    // Pinned by tools/pin_l52.py (independent Python JavaRandom +
    // hyperplane tables + cosine + clamped majority propagation). The
    // synthetic embeddings carry no label-geometry correlation (exact
    // top-5 neighbor label agreement is ~10% = chance), so the pinned
    // confusion matrix is honestly near-uniform with a smallest-label
    // tie-break cascade toward 0 -- the verified deliverable is the
    // graph-build + propagation plumbing, not classifier accuracy.
    // Pinned by tools/pin_l60.py (independent DuckDB bucketing +
    // pure-Python PAV).
    "l60_isotonic_calibration" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(45 AS BIGINT), CAST(1 AS BIGINT), CAST(22 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(67 AS BIGINT), CAST(4 AS BIGINT), CAST(48 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(57 AS BIGINT), CAST(6 AS BIGINT), CAST(48 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(54 AS BIGINT), CAST(2 AS BIGINT), CAST(48 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(61 AS BIGINT), CAST(3 AS BIGINT), CAST(48 AS BIGINT)),
        |  (CAST(6 AS BIGINT), CAST(53 AS BIGINT), CAST(1 AS BIGINT), CAST(48 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(65 AS BIGINT), CAST(2 AS BIGINT), CAST(48 AS BIGINT)),
        |  (CAST(8 AS BIGINT), CAST(56 AS BIGINT), CAST(2 AS BIGINT), CAST(48 AS BIGINT)),
        |  (CAST(9 AS BIGINT), CAST(39 AS BIGINT), CAST(3 AS BIGINT), CAST(76 AS BIGINT)))
        |t(bucket, n, n_stale, fit_permille)
        |ORDER BY bucket""".stripMargin,

    "l59_copy_lineage" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_'
        |      || w[i+4] || '_' || w[i+5] || '_' || w[i+6] || '_' || w[i+7]
        |     for i in generate_series(1, len(w) - 7)])) AS g FROM toks),
        |srcs AS (SELECT g, min(doc_id) AS src FROM sh GROUP BY g),
        |edges AS (SELECT DISTINCT s2.src, sh.doc_id AS dst
        |  FROM sh JOIN srcs s2 USING (g) WHERE sh.doc_id > s2.src),
        |paths(dst, depth) AS (
        |  SELECT dst, 1 FROM edges
        |  UNION ALL
        |  SELECT e.dst, p.depth + 1 FROM paths p JOIN edges e
        |    ON e.src = p.dst),
        |dd AS (SELECT dst AS doc_id, max(depth) AS depth FROM paths
        |  GROUP BY 1)
        |SELECT CAST(coalesce(dd.depth, 0) AS BIGINT) AS depth,
        |  count(*) AS n_docs, CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        |FROM documents d LEFT JOIN dd USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "l58_source_minhash" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT DISTINCT source, unnest(list_distinct(
        |    [w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_'
        |      || w[i+4] for i in generate_series(1, len(w) - 4)])) AS g
        |  FROM toks),
        |sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY 1),
        |ix AS (SELECT a.source AS sa, b.source AS sb, count(*) AS i
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, (1000 * i) // (za.sz + zb.sz - i) AS exact_permille,
        |  true AS est_within_250
        |FROM ix JOIN sizes za ON sa = za.source
        |  JOIN sizes zb ON sb = zb.source
        |ORDER BY sa, sb""".stripMargin,

    "l57_ict_pairs" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |v AS (SELECT lang,
        |    w[n // 3 + 1 : 2 * n // 3] AS sent,
        |    list_concat(w[1 : n // 3], w[2 * n // 3 + 1 : n]) AS ctx
        |  FROM t)
        |SELECT lang, count(*) AS n_pairs,
        |  CAST(sum(len(sent)) AS BIGINT) AS sum_sentence_tokens,
        |  CAST(sum(len(ctx)) AS BIGINT) AS sum_context_tokens,
        |  CAST(sum(CASE WHEN len(list_intersect(list_distinct(sent),
        |    list_distinct(ctx))) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lexical_overlap
        |FROM v GROUP BY lang ORDER BY lang""".stripMargin,

    "l56_temperature_mix" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w
        |  FROM counts),
        |tot AS (SELECT sum(w) AS wt, sum(n) // 2 AS b FROM w),
        |a0 AS (SELECT lang, n, w, (b * w) // wt AS base,
        |    b * w - ((b * w) // wt) * wt AS rem FROM w, tot),
        |resid AS (SELECT b - sum(base) AS r FROM a0, tot GROUP BY b),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rr
        |  FROM a0)
        |SELECT lang, n, w,
        |  CAST(base + CASE WHEN rr <= r THEN 1 ELSE 0 END AS BIGINT) AS alloc,
        |  CAST((1000 * (base + CASE WHEN rr <= r THEN 1 ELSE 0 END)) // n
        |    AS BIGINT) AS rate_permille
        |FROM rk, resid ORDER BY lang""".stripMargin,

    "l55_span_provenance" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM (
        |  SELECT doc_id, list_distinct(
        |    [w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3] || '_'
        |      || w[i+4] || '_' || w[i+5] || '_' || w[i+6] || '_' || w[i+7]
        |     for i in generate_series(1, len(w) - 7)]) AS s FROM toks)),
        |src AS (SELECT g, min(doc_id) AS src FROM sh GROUP BY g)
        |SELECT s2.src, sh.doc_id AS dst, count(*) AS n_spans,
        |  CAST(max(sh.sz) AS BIGINT) AS dst_total,
        |  (1000 * count(*)) // CAST(max(sh.sz) AS BIGINT) AS share_permille
        |FROM sh JOIN src s2 USING (g) WHERE sh.doc_id > s2.src
        |GROUP BY 1, 2 ORDER BY n_spans DESC, src, dst""".stripMargin,

    // Pinned by tools/pin_l54.py (independent Python BPE + 13-gram sets).
    "l54_token_decontamination" ->
      """SELECT * FROM (VALUES
        |  ('de', CAST(60 AS BIGINT), CAST(47 AS BIGINT), CAST(471 AS BIGINT)),
        |  ('en', CAST(180 AS BIGINT), CAST(147 AS BIGINT), CAST(1849 AS BIGINT)),
        |  ('es', CAST(66 AS BIGINT), CAST(51 AS BIGINT), CAST(515 AS BIGINT)),
        |  ('fr', CAST(55 AS BIGINT), CAST(47 AS BIGINT), CAST(238 AS BIGINT)),
        |  ('zh', CAST(67 AS BIGINT), CAST(59 AS BIGINT), CAST(868 AS BIGINT)))
        |t(lang, n_train, n_contaminated, sum_shared)
        |ORDER BY lang""".stripMargin,

    "l53_novelty_scores" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, lang, list_distinct(
        |    [w[i] || '_' || w[i+1] || '_' || w[i+2] || '_' || w[i+3]
        |      || '_' || w[i+4] for i in generate_series(1, len(w) - 4)]) AS s
        |  FROM toks),
        |posts AS (SELECT doc_id, lang, len(s) AS n_sh, unnest(s) AS shingle
        |  FROM sh),
        |firsts AS (SELECT shingle, min(doc_id) AS doc_id FROM posts
        |  GROUP BY shingle),
        |own AS (SELECT doc_id, count(*) AS n_first FROM firsts GROUP BY doc_id),
        |per AS (SELECT doc_id, lang, max(n_sh) AS n_sh FROM posts GROUP BY 1, 2)
        |SELECT p.lang, count(*) AS n_docs,
        |  CAST(sum(coalesce(o.n_first, 0)) AS BIGINT) AS sum_first,
        |  CAST(sum(p.n_sh) AS BIGINT) AS sum_shingles,
        |  CAST(sum(CASE WHEN coalesce(o.n_first, 0) * 2 < p.n_sh
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
        |  (1000 * CAST(sum(coalesce(o.n_first, 0)) AS BIGINT))
        |    // CAST(sum(p.n_sh) AS BIGINT) AS novelty_permille
        |FROM per p LEFT JOIN own o USING (doc_id)
        |GROUP BY p.lang ORDER BY p.lang""".stripMargin,

    "l52_label_propagation" ->
      """SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(23 AS BIGINT)),
  (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(6 AS BIGINT)),
  (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
  (CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(25 AS BIGINT)),
  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(7 AS BIGINT)),
  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(1 AS BIGINT), CAST(8 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(25 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(4 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(31 AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(9 AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(31 AS BIGINT)),
  (CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(6 AS BIGINT)),
  (CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(4 AS BIGINT), CAST(6 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(4 AS BIGINT), CAST(8 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(21 AS BIGINT)),
  (CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(6 AS BIGINT)),
  (CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(5 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
  (CAST(5 AS BIGINT), CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(5 AS BIGINT), CAST(8 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(20 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(4 AS BIGINT), CAST(3 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(6 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(6 AS BIGINT), CAST(8 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(33 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(7 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(4 AS BIGINT), CAST(3 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(6 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(7 AS BIGINT), CAST(8 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(28 AS BIGINT)),
  (CAST(8 AS BIGINT), CAST(1 AS BIGINT), CAST(7 AS BIGINT)),
  (CAST(8 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(8 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(9 AS BIGINT), CAST(0 AS BIGINT), CAST(27 AS BIGINT)),
  (CAST(9 AS BIGINT), CAST(1 AS BIGINT), CAST(9 AS BIGINT)),
  (CAST(9 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT)),
  (CAST(9 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(9 AS BIGINT), CAST(9 AS BIGINT), CAST(1 AS BIGINT))
) t(label, pred, n) ORDER BY label, pred"""
  )
}
