package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.DeterministicAgg.roundFixed

/** LLM-training-data text operators over the `documents` table — the
  * north-star extensions beyond the reference's own inventory (SURVEY.md
  * §2.8 / §7.1 step 7): deduplication (exact, inverted-index near-dup,
  * MinHash-LSH, SimHash), language ID, quality scoring, token counting and
  * fingerprinting.
  *
  * Everything here is declarative `org.apache.spark.sql.functions` — no
  * UDFs — with the few loop-heavy scalars (simhash, gram hashing) as native
  * codegen'd Catalyst expressions (graft.functions.VectorExpressions), so
  * the hot path stays inside whole-stage codegen and the only shuffles are
  * the explicit groupBy/join keys.
  */
object TextOps {

  // ---------------------------------------------------------------- tokens

  /** Whitespace tokens of a trimmed text, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** SPREAD a sub-parallel documents scan ahead of a heavy tokenize/
    * shingle explode (round-16 optimization; the covarianceMatrix /
    * media-kernel discipline). A single-row-group corpus parquet is ONE
    * input split, so the tokenize explode — the per-row cost of the n-gram
    * model family — ran on one core of however many the session has.
    * Hash-spread on doc_id (unique → even; no round-robin pre-sort;
    * retry-deterministic), skipped when the scan already spans the
    * cluster, so at 100 TB the plan is unchanged. Applied ONLY to
    * operators where a full-run A/B won (doc_kn_logprob,
    * doc_block_dedup, doc_bloom_decontaminate, doc_lrs,
    * doc_suffix_ranks): a blanket
    * reader-level spread measurably HURT iterative/multi-reference
    * operators (see Tables.read and OPTIMIZATION_r16.md). */
  private def spreadScan(documents: DataFrame): DataFrame =
    Spread.byKey(documents, col("doc_id"))

  /** Positional word n-grams (space-joined), IN DOCUMENT ORDER with repeats
    * kept — the winnowing input. Documents shorter than `n` tokens get an
    * empty list.
    *
    * Built by zipping `n` shifted slices of the token array instead of
    * indexed slicing inside a lambda: an outer expression referenced in a
    * lambda body is re-evaluated PER ELEMENT, so the naive
    * `transform(seq, i -> slice(toks, i, n))` re-tokenizes the document for
    * every shingle position (O(len²)); the zip form evaluates `toks` ~2n
    * times per row total, and the lambda touches only its own struct fields.
    */
  def positionalShingles(toks: Column, n: Int): Column = {
    val cnt = size(toks) - (n - 1)
    val shifted = (0 until n).map(i => slice(toks, lit(i + 1), cnt))
    when(cnt >= 1,
      transform(
        arrays_zip(shifted: _*),
        s => concat_ws(" ", (0 until n).map(i => s.getField(i.toString)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingle SET (deduplicated) — the Jaccard-path input. */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(positionalShingles(toks, n))

  /** Engine-portable 60-bit hash: the first 15 hex digits of sha2-256 as a
    * (positive) bigint. DuckDB reproduces it digit-for-digit by folding the
    * same sha256 prefix — unlike xxhash64, whose seed/finalization is Spark
    * internal. Used where the ORACLE must recompute the hash (fingerprints);
    * the pure-candidate-generation paths keep the cheaper xxhash64.
    */
  def portableHash64(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")

  // ------------------------------------------- benchmark contamination

  /** BENCHMARK-side contamination report — the reverse direction of
    * [[decontaminate]], and the other standard artifact of the GPT-3
    * appendix-C / Llama overlap check: [[decontaminate]] answers "which
    * TRAINING documents must be dropped" (one flag per train doc);
    * this answers "how leaked is each EVAL document" (the per-benchmark
    * overlap ratio an eval-integrity report publishes — the number that
    * decides whether a benchmark score is trustworthy at all). For each
    * benchmark document, the fraction of its distinct word `n`-grams
    * that appear ANYWHERE in the training split. Documents
    * `doc_id < benchCount` stand in for the eval set (the
    * sampled-query-set discipline the ANN family uses); the rest are
    * the training corpus.
    *
    * Scale shape — the training corpus NEVER shuffles: the benchmark's
    * distinct grams broadcast (an eval set is tiny by definition — the
    * real-world asymmetry this op exists for), the training scan drops
    * non-benchmark grams map-side via a broadcast LEFT-SEMI join, and
    * only the surviving gram strings (≤ |benchmark grams|) are
    * deduplicated and broadcast back for the per-document membership
    * count. At 100 TB this is one linear pass over training text plus
    * metadata-scale joins; a gram hot in the corpus (boilerplate) costs
    * nothing extra because membership, not frequency, is aggregated.
    *
    * Per benchmark doc: distinct-gram count, contaminated-gram count,
    * and the ratio (1e-6 grid). Documents shorter than `n` tokens have
    * no grams and produce no row (both engines). */
  def contamination(documents: DataFrame, benchCount: Long = 50,
                    n: Int = 8): DataFrame = {
    // fused 8-byte gram hashes instead of gram strings (round-17: the
    // string explode was this query's CPU; membership only needs key
    // equality — the near-dup path's collision budget, oracle unchanged)
    val grams = spreadScan(documents).filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.VectorExpressions.gramXxHashes(tokens(col("text")), n)))
        .as("g"))
    val bench = grams.filter(col("doc_id") < benchCount)
    val benchSet = bench.select(col("g")).distinct()
    val contaminated = grams.filter(col("doc_id") >= benchCount)
      .join(broadcast(benchSet), Seq("g"), "leftsemi")
      .select(col("g")).distinct()
    bench
      .join(broadcast(contaminated.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"),
        roundFixed(sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double"), 6).as("contamination_ratio"))
  }

  // ------------------------------------------------------------ exact dedup

  /** Exact deduplication by content hash: one row per distinct text with the
    * canonical (minimum) doc_id and the duplicate count. sha2-256 keeps the
    * oracle expressible (DuckDB sha256); a production 100 TB run would use
    * xxhash64 for an 8-byte shuffle key — same plan shape, cheaper key.
    * Map-side partial aggregation collapses duplicates before the shuffle.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(
        min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies")
      )

  /** Surviving representatives after exact dedup — the rows a training
    * pipeline would keep. Window-free: a self-contained agg + semi join
    * keeps it shuffle-minimal (2 stages, no sort). */
  def dedupedDocs(documents: DataFrame): DataFrame =
    documents.join(
      exactDedup(documents).select(col("canonical_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Per-document duplicated-SPAN ratio — the "how much of this document is
    * shared boilerplate" quality signal (the per-doc aggregate view of
    * exact-substring train-set dedup, Lee et al. 2022's "Deduplicating
    * Training Data Makes Language Models Better"): the fraction of a
    * document's positional word-`n`-gram spans that also occur in at least
    * one OTHER document. Pair-finders ([[nearDupPairs]]/[[minhashPairs]])
    * answer "which documents duplicate each other"; this answers "how much
    * of EACH document is duplicated", the per-row filter signal curation
    * thresholds on.
    *
    * Shape: positional gram HASHES (the [[graft.functions.WordGramHashes]]
    * fused kernel — 8-byte keys through every shuffle, same collision
    * budget as the near-dup path) → one hash agg to (doc, gram, positions)
    * → doc-frequency as a window over the gram key (df ≥ 2 decided
    * in-pass — no join-back, no second gram explode) → per-doc agg.
    * Aggregation only — candidate volume is linear in corpus
    * grams, never pairwise, so no df-cap is needed; the map-side partial
    * collapse absorbs within-doc repetition before each shuffle. Documents
    * shorter than `n` tokens have zero spans and report ratio 0.0.
    */
  def dupSpanRatio(documents: DataFrame, n: Int = 5): DataFrame = {
    val pos = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions.gramXxHashes(col("toks"), n))
          .as("gk"))
    val perDocGram = pos.groupBy(col("doc_id"), col("gk"))
      .agg(count(lit(1)).as("cnt"))
    // doc-frequency as a WINDOW over gk (round-17, the blockDedup
    // reshape): perDocGram rows are unique per (doc, gk), so
    // count(1) OVER (PARTITION BY gk) IS the gram's doc-frequency — one
    // pass over one gk-keyed exchange instead of agg + outer-join-back,
    // which recomputed the gram explode once per reference. The outer
    // join's NULL is_shared mapped to the otherwise(0) branch, exactly
    // where n_docs < 2 lands now.
    val agg = perDocGram
      .withColumn("n_docs", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("gk"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(lit(0L)))
          .as("n_dup_spans"))
    documents.select(col("doc_id")).join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) === 0L, lit(0.0))
          .otherwise(roundFixed(
            col("n_dup_spans").cast("double") / col("n_spans"), 6))
          .as("dup_ratio"))
  }

  /** Exact-substring span EXCISION — the transform half of Lee et al.
    * 2022's exact-substring dedup ([[dupSpanRatio]] is the report half):
    * every token covered by a word-`n`-gram that also occurs in at least
    * one OTHER document is REMOVED, and the document is re-emitted as its
    * surviving tokens (the "cut the duplicated substring out of the
    * training text" step, which the paper shows beats whole-document
    * dropping). Coverage is the union of the [start, start+n) intervals
    * of every shared positional gram, so an overlap-spanning boilerplate
    * run is cut once, seamlessly.
    *
    * Shape — [[dupSpanRatio]]'s aggregation pipeline plus one bounded
    * reassembly: positional gram hashes with their position (the fused
    * [[graft.functions.VectorExpressions.gramXxHashes]] kernel; 8-byte
    * keys through every shuffle) → distinct (doc, gram) → one hash agg to
    * the shared-gram set (doc-frequency ≥ 2) → semi join back → per-doc
    * sorted start-position list (bounded by the doc's own token count —
    * the doc_block_dedup reassembly discipline) → one equi-join to the
    * corpus → a row-local O(tokens) mask-and-rebuild in a typed map (the
    * textrank lesson: local compute for row-local structure; an `exists`
    * HOF per token would be O(tokens·spans) and off codegen). Candidate
    * volume is linear in corpus grams, never pairwise; no df-cap is
    * possible here because excision must see EVERY shared gram — the cost
    * ceiling is the same one [[dupSpanRatio]] already carries.
    *
    * Documents shorter than `n` tokens (or with NULL text) have no grams,
    * so nothing is excised: they re-emit all their tokens. `clean_text`
    * is the kept tokens space-joined (tokenizer-normalized whitespace,
    * like every text transform here).
    */
  def exciseDupSpans(documents: DataFrame, n: Int = 5): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val pos = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(graft.functions.VectorExpressions.gramXxHashes(col("toks"), n))
          .as(Seq("i", "gk")))
    val shared = pos.select(col("doc_id"), col("gk")).distinct()
      .groupBy(col("gk"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gk"))
    val starts = pos.join(shared, Seq("gk"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(starts, Seq("doc_id"), "left_outer")
      .as[(Long, Seq[String], Seq[Int])]
      .map { case (id, toks0, starts0) =>
        val toks = if (toks0 == null) Seq.empty[String] else toks0
        val cut = new Array[Boolean](toks.length)
        if (starts0 != null)
          starts0.foreach { s =>
            var j = s; val end = math.min(s + n, toks.length)
            while (j < end) { cut(j) = true; j += 1 }
          }
        val kept = toks.iterator.zipWithIndex.collect {
          case (w, j) if !cut(j) => w
        }.toSeq
        (id, toks.length.toLong, (toks.length - kept.length).toLong,
          kept.mkString(" "))
      }
      .toDF("doc_id", "n_tokens", "n_removed", "clean_text")
  }

  // -------------------------------------------------------- near-dup dedup

  /** Near-duplicate pairs by word-`n`-gram Jaccard, exact semantics.
    *
    * Candidate generation is an inverted index on hashed shingles (explode →
    * self-join on the 8-byte shingle hash) — recall is exactly 1 for any
    * threshold > 0 because J(a,b) > 0 implies a shared shingle. Candidates
    * are then verified with the exact Jaccard over the deduplicated shingle
    * sets, so the output is bit-identical to an all-pairs computation
    * WITHOUT the O(n²) cross join (round-1 verdict requirement).
    *
    * Scale notes: the shingle join's fan-out is bounded by shingle document
    * frequency; at 100 TB hot shingles need a frequency cap (drop shingles
    * appearing in > df_max docs — they only generate candidates for
    * boilerplate) or the MinHash path [[minhashPairs]], whose candidate
    * count is governed by the band/row s-curve instead of df.
    */
  /** (doc_id, distinct shingle-HASH set): the Jaccard/candidate currency of
    * both near-dup paths. Hash sets instead of gram-string sets — set
    * intersections/unions over 8-byte longs, built by the fused
    * [[graft.functions.WordGramHashes]] kernel; identical Jaccard values
    * unless two distinct grams collide in 64 bits (probability ~1e-8 across
    * the whole corpus — the oracle computes string-set Jaccard and has
    * hash-matched on every run). Tokenization is materialized FIRST (the
    * lambda re-evaluation trap, one level up).
    */
  private def shingleSets(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(graft.functions.VectorExpressions.gramXxHashes(col("toks"), n))
          .as("sh"))

  def nearDupPairs(documents: DataFrame, n: Int = 5, threshold: Double = 0.4,
                   maxShingleDf: Int = 1000): DataFrame = {
    val sh = shingleSets(documents, n)

    // the shingle set already IS the hash set: explode longs directly —
    // 8-byte rows through the generator and the downstream shuffle
    val inverted = sh.select(col("doc_id"), explode(col("sh")).as("shk"))

    // df-cap: a shingle present in > maxShingleDf docs is boilerplate — it
    // contributes O(df²) candidate pairs and ~nothing to recall (a true
    // pair at threshold t shares ~t·|shingles| shingles; losing the hot
    // ones is harmless). This is the skew guard that keeps the self-join
    // bounded at 100 TB; at test scale no shingle comes near the cap.
    val pruned = inverted
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shk"))))
      .filter(col("df") <= maxShingleDf)
      .drop("df")

    val candidates = pruned.as("a")
      .join(pruned.as("b"),
        col("a.shk") === col("b.shk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    verifiedJaccard(candidates, sh, threshold)
  }

  /** MinHash + banded LSH near-dup pairs — the scale path.
    *
    * k=64 MinHash signature per document (min over shingle hashes under 64
    * seeded xxhash64 functions, all inside one aggregation — no per-hash
    * shuffle), banded into 32 bands of r=2; documents colliding in any band
    * become candidates (one explode + self-join on the band key), then exact
    * Jaccard verification as in [[nearDupPairs]].
    *
    * Deliberately NOT one-permutation hashing: OPH (bucket-route each
    * shingle once, per-bucket min) was tried and is 1/64th the hashing cost,
    * but without densification its empty-bucket alignment and 2-element
    * bucket minima made band collisions between UNRELATED documents ~30×
    * more likely on this corpus — candidate volume exploded (measured 270 s
    * vs 4 s at sf0.1). The independent seeded hashes are what keep the
    * collision probability at the textbook J^r per band.
    *
    * With b=32, r=2 the s-curve gives recall ≈ 1 − (1 − j²)³² — miss
    * probability ≤ 4e-10 for j ≥ 0.7 but ~4e-3 at j = 0.4, so an EXACT
    * oracle is only honest for thresholds ≥ ~0.7 (the driver query runs at
    * 0.7; use [[nearDupPairs]] for guaranteed recall at lower thresholds).
    * Candidate volume stays bounded by band collisions, independent of
    * shingle document frequency. Verification makes the OUTPUT exact on the
    * candidate set; at extreme scale you would drop verification and accept
    * the signature estimate.
    */
  def minhashPairs(documents: DataFrame, n: Int = 5, threshold: Double = 0.4,
                   numHashes: Int = 64, bandRows: Int = 2): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    val sh = shingleSets(documents, n)

    // the shingle set already carries the 8-byte gram hashes; the 64 seeded
    // hashes run over longs and the groupBy shuffle carries longs
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("shk"))
    // 64 seeded hash mins in ONE partial+final aggregation
    val sigCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shk"))).as(s"h$i"))
    val sigs = exploded.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)

    val numBands = numHashes / bandRows
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until bandRows).map(r => col(s"h${b * bandRows + r}"))
      struct(lit(b).as("band"), xxhash64(parts: _*).as("bh"))
    }
    val banded = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band").as("band"), col("band.bh").as("bh"))

    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    verifiedJaccard(candidates, sh, threshold)
  }

  /** [[minhashPairs]]'s signature+banding computed PER ROW — the
    * streaming-side formulation ([[graft.streaming.StreamingMinhash]]):
    * a streaming source cannot run the batch explode→groupBy(min)
    * aggregation before its stateful operator, but the k seeded minima
    * are row-local facts of the shingle set, so `array_min(transform(…))`
    * over the same 8-byte hash set yields the IDENTICAL Long per seed —
    * exact equality, not an approximation — and the band hashes follow.
    * Emits (doc_id, band, bh); documents with empty/null shingle sets
    * are dropped exactly like the batch explode drops them. Shuffle-free:
    * one narrow pass, ~numHashes·|sh| xxhash64 calls per document — the
    * same hash budget the batch aggregation pays. */
  private[graft] def minhashBandRows(documents: DataFrame, n: Int = 5,
                                     numHashes: Int = 64,
                                     bandRows: Int = 2): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be divisible by bandRows")
    val sh = shingleSets(documents, n)
      .filter(col("sh").isNotNull && size(col("sh")) > 0)
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(col("sh"), x => xxhash64(lit(i), x))).as(s"h$i")
    }
    val sigs = sh.select(col("doc_id") +: sigCols: _*)
    val numBands = numHashes / bandRows
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until bandRows).map(r => col(s"h${b * bandRows + r}"))
      struct(lit(b).as("band"), xxhash64(parts: _*).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** The batch verification tail over an EXTERNAL candidate set — shared
    * by the streaming dedup snapshot so the streamed pipeline ends in the
    * batch path's own exact-Jaccard code, not a replica. Candidates are
    * distinct'd (a pair colliding in several bands arrives once per
    * band). */
  private[graft] def verifyCandidatePairs(documents: DataFrame,
                                          candidates: DataFrame,
                                          n: Int = 5,
                                          threshold: Double = 0.7): DataFrame =
    verifiedJaccard(
      candidates.select(col("doc_a"), col("doc_b")).distinct(),
      shingleSets(documents, n), threshold)

  /** BLEU-2 scoring of verified near-duplicate pairs — the EVAL-METRIC
    * view of duplication a curation report publishes next to Jaccard:
    * clipped n-gram precision is asymmetric (how much of A is copied
    * from B, position-free but multiplicity-aware), so it separates
    * "A quotes half of B" from "A and B share a vocabulary", which
    * symmetric Jaccard cannot. Candidates come from the exact-recall
    * inverted-index pairs ([[nearDupPairs]], jaccard ≥ `threshold`) —
    * never a cross join; per pair the clipped counts run as exploded
    * gram-count equi-joins (the scalable formulation — no per-row O(n²)
    * HOF scans), volume bounded by Σ pair gram counts.
    *
    * Determinism: p1/p2 are integer-ratio divisions quantized at 1e-6,
    * BLEU is recomputed FROM THE QUANTIZED columns (`bp·√(p1·p2)`, 1e-4)
    * — sqrt and division are correctly-rounded IEEE ops; the brevity
    * penalty's `exp` carries the same ≤1-ulp libm risk the HLL ln branch
    * accepted (masked by quantization). Candidate = doc_a (the smaller
    * id), reference = doc_b.
    */
  def bleuPairs(documents: DataFrame, n: Int = 5,
                threshold: Double = 0.4): DataFrame = {
    val pairs = nearDupPairs(documents, n, threshold)
      .select(col("doc_a"), col("doc_b"))
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    // withT is referenced FIVE times below (ca/cb per gram order + the
    // final len projection) — checkpoint it once (round-17: every
    // reference re-planned the whole inverted-index + verify + token-join
    // pipeline, ~5x the pair finder's CPU inside this one query; measured
    // 2.15 -> ~1.2 s at sf0.1). Pair-count-scale artifact (each verified
    // pair with its two token arrays), the nearDupTriangles/pagerank
    // checkpoint discipline.
    val withT = pairs
      .join(toks.select(col("doc_id").as("doc_a"), col("t").as("t_a")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("t").as("t_b")), Seq("doc_b"))
      .withColumn("len_a", size(col("t_a")).cast("long"))
      .withColumn("len_b", size(col("t_b")).cast("long"))
      .localCheckpoint(true)
    // clipped modified precision for gram order k: candidate gram counts
    // LEFT-joined to reference counts, clip = min(ca, cb)
    def clipped(k: Int): DataFrame = {
      def grams(c: Column) = if (k == 1) c else positionalShingles(c, k)
      val ca = withT.select(col("doc_a"), col("doc_b"),
          explode(grams(col("t_a"))).as("g"))
        .groupBy(col("doc_a"), col("doc_b"), col("g"))
        .agg(count(lit(1)).as("ca"))
      val cb = withT.select(col("doc_a"), col("doc_b"),
          explode(grams(col("t_b"))).as("g"))
        .groupBy(col("doc_a"), col("doc_b"), col("g"))
        .agg(count(lit(1)).as("cb"))
      ca.join(cb, Seq("doc_a", "doc_b", "g"), "left")
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(
          sum(least(col("ca"), coalesce(col("cb"), lit(0L)))).as(s"clip$k"),
          sum(col("ca")).as(s"tot$k"))
        .withColumn(s"p$k", roundFixed(
          col(s"clip$k").cast("double") / nullif(col(s"tot$k"), lit(0L)), 6))
        .select(col("doc_a"), col("doc_b"), col(s"p$k"))
    }
    withT.select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"))
      .join(clipped(1), Seq("doc_a", "doc_b"))
      .join(clipped(2), Seq("doc_a", "doc_b"), "left")
      .withColumn("bp", roundFixed(
        when(col("len_a") < col("len_b"),
          exp(lit(1.0) - col("len_b").cast("double") / col("len_a")))
          .otherwise(lit(1.0)), 6))
      .withColumn("bleu2",
        roundFixed(col("bp") * sqrt(col("p1") * col("p2")), 4))
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
        col("p1"), col("p2"), col("bp"), col("bleu2"))
  }

  /** Hybrid (lexical × semantic) near-duplicate scoring — the fusion step a
    * production dedup review queue runs: exact-recall shingle candidates at
    * a LOW lexical floor, each pair annotated with the embedding cosine of
    * the two documents (doc_id ↔ vec_id), so a downstream policy can
    * threshold on either signal or their combination. Candidates come from
    * the bounded inverted index ([[nearDupPairs]] machinery — never a cross
    * join); the cosine annotation is two broadcast-or-shuffle equi-joins on
    * ids plus one native dot product per pair. Both scores are emitted
    * (rounded) rather than pre-filtered on cosine: fusion policy belongs to
    * the caller, recall to the operator — which is also why the embedding
    * joins are LEFT joins: a pair whose document has no embedding row keeps
    * its lexical score with a null cosine instead of silently vanishing
    * from the review queue (round-4 review finding).
    */
  def hybridNearDup(documents: DataFrame, embeddings: DataFrame,
                    n: Int = 5, jaccardFloor: Double = 0.2): DataFrame = {
    val pairs = nearDupPairs(documents, n, jaccardFloor)
    val vecs = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.operators.Similarity.dot(col("v"), col("v"))))
    pairs
      .join(vecs.select(col("vec_id").as("doc_a"), col("v").as("v_a"),
        col("nrm").as("nrm_a")), Seq("doc_a"), "left")
      .join(vecs.select(col("vec_id").as("doc_b"), col("v").as("v_b"),
        col("nrm").as("nrm_b")), Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        // nullif guards a zero-norm embedding: Spark's non-ANSI divide
        // yields NULL on a zero divisor where DuckDB's IEEE division gives
        // NaN/inf — nullif makes BOTH engines emit NULL (review finding)
        roundFixed(graft.operators.Similarity.dot(col("v_a"), col("v_b")) /
          nullif(col("nrm_a") * col("nrm_b"), lit(0.0)), 4).as("cosine"))
  }

  /** Exact-Jaccard verification of candidate pairs against shingle sets. */
  private def verifiedJaccard(candidates: DataFrame, sh: DataFrame,
                              threshold: Double): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    candidates
      .join(a, Seq("doc_a"))
      .join(b, Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard",
        roundFixed(col("inter").cast("double") / nullif(col("uni"), lit(0)), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ----------------------------------------------------------------- simhash

  /** 64-bit SimHash per document from whitespace-token hashes: per bit, the
    * sign of the sum of ±1 contributions across tokens. One native
    * codegen'd expression ([[graft.functions.SimHash64]]) — no explode, no
    * UDF, per-row O(tokens·64) in a primitive loop.
    */
  def simhash(text: Column): Column =
    graft.functions.VectorExpressions.simhash64Native(tokens(text))

  /** The declarative HOF formulation [[simhash]] replaced — kept
    * private[graft] as the parity reference (VectorExpressionsSpec asserts
    * native == HOF on real documents). Correct but CodegenFallback: every
    * token × bit step pays interpreted eval.
    */
  private[graft] def simhashHof(text: Column): Column = {
    val toks = tokens(text)
    // per token: 64-entry array of ±1 from its hash bits; accumulate sums
    // pre-hash: the lambda variable h is a plain slot read, so the 64 bit
    // extractions below cost 64 shifts — NOT 64 re-evaluations of xxhash64
    // (an expression subtree inside a lambda is re-evaluated per reference)
    val sums = aggregate(
      transform(toks, t => xxhash64(t)),
      transform(sequence(lit(0), lit(63)), _ => lit(0L)),
      (acc, h) => {
        val contribs = array((0 until 64).map(i =>
          when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)): _*)
        zip_with(acc, contribs, (a, b) => a + b)
      })
    // assemble sign bits MSB-first into one long
    aggregate(sums, lit(0L),
      (acc, s) => shiftleft(acc, 1) + when(s > 0L, 1L).otherwise(0L))
  }

  /** Per-document SimHash table. */
  def simhashDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), simhash(col("text")).as("simhash"))

  /** Engine-portable 60-bit SimHash: same construction as [[simhash]] but
    * over [[portableHash64]] token hashes, assembled into bit positions
    * 59..0 (kept out of the sign bit so the value is a plain nonnegative
    * BIGINT on any engine). This is the ORACLED variant — DuckDB recomputes
    * it bit-for-bit (sha256 prefix fold + per-bit majority); the xxhash64
    * [[simhash]] stays the fast path for pair finding.
    */
  def simhashPortable(text: Column): Column =
    graft.functions.VectorExpressions.simhashPortableNative(tokens(text))

  /** HOF formulation of [[simhashPortable]] — parity reference only
    * (VectorExpressionsSpec asserts native == HOF on real documents). */
  private[graft] def simhashPortableHof(text: Column): Column = {
    val toks = tokens(text)
    val sums = aggregate(
      transform(toks, t => portableHash64(t)),
      transform(sequence(lit(0), lit(59)), _ => lit(0L)),
      (acc, h) => {
        val contribs = array((0 until 60).map(i =>
          when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)): _*)
        zip_with(acc, contribs, (a, b) => a + b)
      })
    aggregate(sums, lit(0L),
      (acc, s) => shiftleft(acc, 1) + when(s > 0L, 1L).otherwise(0L))
  }

  /** Oracled per-document portable-SimHash table (see [[simhashPortable]]). */
  def simhashDocsPortable(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), simhashPortable(col("text")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found by
    * pigeonhole banding: split the 64-bit hash into (maxHamming+1) chunks —
    * any pair within the distance bound shares at least one identical chunk,
    * so candidates come from equi-joins on (chunk_idx, chunk_value), never a
    * cross join. Exact Hamming verification via bit_count(xor).
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val hashed = simhashDocs(documents)
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("idx"),
        shiftright(col("simhash"), c * bitsPer)
          .bitwiseAND((1L << bitsPer) - 1L).as("v"))
    }
    val banded = hashed
      .select(col("doc_id"), col("simhash"), explode(array(chunkCols: _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.idx").as("idx"), col("ch.v").as("v"))

    // the hamming bound lives IN the join condition: on a clustered corpus
    // chunk collisions are dense (millions of candidate rows at sf0.1), and
    // filtering before the distinct shrinks its input by ~1000×
    banded.as("a")
      .join(banded.as("b"),
        col("a.idx") === col("b.idx") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
  }

  /** Sorted-neighborhood SimHash pairs (the multi-rotation scheme from
    * Manku et al.'s web-dedup paper): for each of `rotations` bit-rotations
    * of the hash, sort by the rotated value and compare each doc only with
    * its next `windowSize` neighbors. Near hashes share long prefixes under
    * some rotation, so they sort adjacently.
    *
    * Candidate volume is EXACTLY N·rotations·windowSize — independent of how
    * clustered the corpus is, unlike [[simhashPairs]] whose chunk-collision
    * join degrades to O(Σ bucket²) on homogeneous data (measured ~10 s vs
    * ~2 s at sf0.1). The trade is probabilistic recall, measured in
    * TextOpsSpec against the exhaustive banded variant. Scale note: the
    * per-rotation sort is a window over the rotation key; at 100 TB replace
    * with repartitionByRange + sortWithinPartitions and accept the
    * ~windowSize boundary loss per partition.
    */
  def simhashPairsSorted(documents: DataFrame, maxHamming: Int = 5,
                         rotations: Int = 4, windowSize: Int = 8,
                         portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // portable = the ORACLED path: rotations of the 60-bit sha-prefix
    // simhash, every step deterministic and engine-reproducible (the DuckDB
    // replica recomputes hash, rotation keys, sort and neighborhood joins
    // bit-for-bit — see SparkEntry's simhashPairsOracle). The xxhash64
    // 64-bit variant stays the cheap in-engine path.
    val bits = if (portable) 60 else 64
    val hashed = if (portable) simhashDocsPortable(documents) else simhashDocs(documents)
    val rotCols = (0 until rotations).map { r =>
      val s = r * (bits / rotations)
      // left-rotate within `bits` WITHOUT overflowing into the int64 sign
      // bits: keep the low (bits-s) bits, shift them up, OR in the high s
      // bits. For bits=64 this equals the plain shiftleft|shiftrightunsigned
      // form (the masked bits fall off the top anyway).
      val key =
        if (s == 0) col("simhash")
        else if (bits == 64)
          shiftleft(col("simhash"), s)
            .bitwiseOR(shiftrightunsigned(col("simhash"), 64 - s))
        else
          shiftleft(col("simhash").bitwiseAND(lit((1L << (bits - s)) - 1L)), s)
            .bitwiseOR(shiftrightunsigned(col("simhash"), bits - s))
      struct(lit(r).as("r"), key.as("key"))
    }
    val rotated = hashed
      .select(col("doc_id"), col("simhash"), explode(array(rotCols: _*)).as("rk"))
      .select(col("doc_id"), col("simhash"),
        col("rk.r").as("r"), col("rk.key").as("key"))

    // window functions are not allowed inside a generator: evaluate the
    // leads into plain columns first, then explode the assembled array
    val w = Window.partitionBy(col("r")).orderBy(col("key"), col("doc_id"))
    val withLeads = rotated.select(
      col("doc_id") +: col("simhash") +:
        (1 to windowSize).flatMap(i => Seq(
          lead(col("doc_id"), i).over(w).as(s"nid$i"),
          lead(col("simhash"), i).over(w).as(s"nh$i"))): _*)
    val neighborCols = (1 to windowSize).map(i =>
      struct(col(s"nid$i").as("nid"), col(s"nh$i").as("nh")))

    withLeads
      .select(col("doc_id"), col("simhash"),
        explode(array(neighborCols: _*)).as("nb"))
      .filter(col("nb.nid").isNotNull)
      .select(
        least(col("doc_id"), col("nb.nid")).as("doc_a"),
        greatest(col("doc_id"), col("nb.nid")).as("doc_b"),
        bit_count(col("simhash").bitwiseXOR(col("nb.nh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------------------ text analysis

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Marker-word sets per language (tiny stopword profiles). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "y"),
    "zh" -> Seq("de", "shi", "le")
  )

  /** Language ID by stopword-profile scoring: the language with the highest
    * marker-word count wins, ties broken in [[langMarkers]] order; all-zero
    * scores → "und". Per-row expression only — embarrassingly parallel.
    */
  def languageId(documents: DataFrame): DataFrame = {
    // Tokenize ONCE into a real column: inlining the `tokens` HOF into all 5
    // marker counts re-tokenizes the document per language (the Catalyst
    // lambda re-evaluation trap — measured 6.7 s vs sub-second at sf0.1).
    // The alias survives CollapseProject because 5 columns reference it.
    val withToks = documents.select(
      col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val scored = withToks.select(
      (col("doc_id") +: col("lang") +:
        langMarkers.map { case (l, ws) => countIn(col("toks"), ws).as(s"s_$l") }): _*)
    val best = langMarkers.map(_._1).map(l => col(s"s_$l"))
    val guess = langMarkers.map(_._1).foldRight(lit("und"): Column) {
      case (l, els) =>
        when(col(s"s_$l") === greatest(best: _*) && col(s"s_$l") > 0, l).otherwise(els)
    }
    scored
      .withColumn("lang_guess", guess)
      .withColumn("lang_match", col("lang_guess") === col("lang"))
      .select("doc_id", "lang", "lang_guess", "lang_match")
  }

  /** Per-document quality metrics + a composite score in [0,1]: length
    * sufficiency, lexical diversity, stopword presence. Pure per-row
    * expressions; the formula is fixed-order double arithmetic, so it is
    * bit-deterministic across engines. `keep` carries extra source columns
    * through (e.g. `lang` for [[selectByTokenBudget]]) without a
    * self-join back to `documents`.
    */
  def qualityScore(documents: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(Seq(col("doc_id"), col("n_chars"), toks.as("toks")) ++
        keep.map(col): _*)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct_tokens", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("stop_ratio",
        roundFixed(countIn(col("toks"), Seq("the", "a", "of")).cast("double") /
          nullif(col("n_tokens"), lit(0L)), 4))
      .withColumn("diversity",
        roundFixed(col("n_distinct_tokens").cast("double") /
          nullif(col("n_tokens"), lit(0L)), 4))
      .withColumn("quality_score",
        roundFixed(
          lit(0.4) * least(lit(1.0), col("n_tokens").cast("double") / lit(128.0)) +
            lit(0.3) * (col("n_distinct_tokens").cast("double") /
              nullif(col("n_tokens"), lit(0L))) +
            lit(0.3) * least(lit(1.0), lit(5.0) *
              (countIn(col("toks"), Seq("the", "a", "of")).cast("double") /
                nullif(col("n_tokens"), lit(0L)))), 4))
      .select((Seq("doc_id", "n_chars", "n_tokens", "n_distinct_tokens",
        "stop_ratio", "diversity", "quality_score") ++ keep).map(col): _*)
  }

  /** CCNet-style unigram language-model scoring — the "perplexity filter"
    * member of the curation family ([[qualityScore]] is heuristics;
    * [[languageId]] is routing; this ranks documents by how likely their
    * tokens are under the corpus's OWN unigram distribution, the cheap
    * stand-in for the KenLM pass CCNet runs): per document, the mean
    * log10-probability of its tokens,
    *
    *   logprob = (Σ_i lp(tf_i)) / n − lp(T),   lp(x) = log10(x) @ 1e-6
    *
    * where tf_i is the corpus frequency of token i and T the total token
    * count. Cross-engine determinism: log10 is evaluated ONCE PER DISTINCT
    * TERM (in the vocab aggregate, not per occurrence) and quantized to the
    * 1e-6 grid via [[roundFixed]] before the per-document sum, which runs
    * decimal-backed ([[graft.functions.DeterministicAgg.exactSum]]) so any
    * partition order lands on the identical double.
    *
    * Plan shape (the [[tfidfTopTerms]] discipline): one explode, one hash
    * agg to the vocab (vocab-scale, tiny next to the corpus), one equi-join
    * of tokens to the vocab, one hash agg back to documents; T is a 1-row
    * broadcast. Documents with zero tokens survive the left join with
    * n_tokens = 0 and NULL logprob.
    */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .withColumn("lp", roundFixed(log10(col("tf").cast("double")), 6))
    val total = tf.agg(sum(col("tf")).as("t_total"))
    val perDoc = toks.join(tf, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        graft.functions.DeterministicAgg.exactSum(col("lp")).as("slp"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_tokens").isNull, lit(null).cast("double"))
          .otherwise(roundFixed(
            col("slp") / col("n_tokens") -
              roundFixed(log10(col("t_total").cast("double")), 6), 4))
          .as("logprob"))
  }

  /** Bigram language-model score — the conditional-probability upgrade of
    * [[unigramLogProb]] (one Markov order closer to CCNet's 5-gram KenLM):
    * per-doc mean log10 P(wᵢ | wᵢ₋₁) under add-one smoothing over the
    * corpus vocabulary, P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V), where c(w₁·)
    * is w₁'s left-context total (Σ_w c(w₁w)) so each context's smoothed
    * distribution sums to 1.
    *
    * Scale shape mirrors the unigram path: ONE bigram explode feeds the
    * bigram-count agg (vocab²-bounded but corpus-sparse — the shuffle
    * carries distinct bigrams), the context totals derive from that
    * relation without re-touching the corpus, V is a 1-row broadcast, and
    * log10 is evaluated ONCE PER DISTINCT BIGRAM then quantized (1e-6)
    * before the decimal-exact per-doc sum — never per occurrence, and no
    * float summation-order dependence. Docs with < 2 tokens score null.
    */
  // (deliberately NOT spreadScan'd: the add-one model needs a THIRD
  // corpus reference for the countDistinct vocabulary, and the full-run
  // A/B showed the extra exchange re-executions outweigh the tokenize
  // fan-out here — 1.47 -> 1.86 s; its KN sibling, with one reference
  // fewer, wins with the spread)
  def bigramLogProb(documents: DataFrame): DataFrame = {
    val bi = documents.select(col("doc_id"),
      explode(positionalShingles(tokens(col("text")), 2)).as("bg"))
    // (a (doc, bigram, cnt) pre-aggregation between the explode and the
    // scoring join was A/B'd on full 228-query runs this round and
    // REJECTED: bigrams rarely repeat within one document, so the map-side
    // partial collapses nothing and the extra string-keyed exchange is pure
    // overhead — measured +1.2 s wall / +5.6 cpu-sec here and +0.7 s on the
    // KN sibling. The dsirWeights pre-agg survives because its 4096-bucket
    // key space DOES collapse thousands of tokens per document.)
    val c12 = bi.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = documents
      .select(explode(tokens(col("text"))).as("term"))
      .agg(countDistinct(col("term")).as("v"))
    val lp = c12.join(c1, "w1").crossJoin(broadcast(vocab))
      .select(col("bg"), roundFixed(
        log10((col("c12") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double")), 6).as("lp"))
    val perDoc = bi.join(lp, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.DeterministicAgg.exactSum(col("lp")).as("slp"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(roundFixed(col("slp") / col("n_bigrams"), 4))
          .as("bigram_logprob"))
  }

  /** Interpolated Kneser–Ney bigram scoring — the principled-smoothing
    * upgrade of [[bigramLogProb]] (Kneser & Ney ICASSP'95; Chen & Goodman
    * 1998 found the interpolated form the strongest n-gram smoother, and
    * it is what KenLM — the CCNet perplexity filter — implements):
    *
    *   P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·)
    *            + (D·N₁₊(w₁·)/c(w₁·)) · (N₁₊(·w₂)/N₁₊(··)),  D = 0.75
    *
    * — the absolute-discount mass moves to the CONTINUATION probability
    * (how many distinct contexts w₂ follows), the fix for add-one's
    * overweighting of frequent-but-context-bound words. Scoring the
    * corpus's own bigrams means every scored pair has c ≥ 1, so the
    * discounted term never clips at 0.
    *
    * Scale shape is [[bigramLogProb]]'s, hardened by the [[dsirWeights]]
    * lesson: ONE bigram explode to the c12 relation, and ALL four model
    * statistics (context totals c(w₁·), context diversities N₁₊(w₁·),
    * continuation counts N₁₊(·w₂), distinct bigram total) ride WINDOWS
    * over that one relation — aggregate-and-join-back would duplicate
    * the corpus-explode subtree once per statistic (6 corpus scans in
    * the initial plan, with only AQE's runtime exchange reuse to save
    * you); the window form is pinned at exactly 3 scans. The windows
    * move only the vocab-scale c12 rows (the whole-relation nbd window
    * is a single partition of BOUNDED bigram-vocab size — the dsir
    * totals argument). log10 once per DISTINCT bigram, 1e-6 quantized,
    * decimal-exact per-doc sum, mean rounded 1e-4. Docs with < 2 tokens
    * score NULL.
    */
  def knBigramLogProb(documents0: DataFrame, discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val documents = spreadScan(documents0)
    val bi = documents.select(col("doc_id"),
      explode(positionalShingles(tokens(col("text")), 2)).as("bg"))
    val c12 = bi.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val wW1 = Window.partitionBy(col("w1"))
    val wW2 = Window.partitionBy(col("w2"))
    val wAll = Window.partitionBy()
    val lp = c12
      .withColumn("c1", sum(col("c12")).over(wW1))
      .withColumn("n1p_l", count(lit(1)).over(wW1))
      .withColumn("n1p_r", count(lit(1)).over(wW2))
      .withColumn("nbd", count(lit(1)).over(wAll))
      .select(col("bg"), roundFixed(log10(
        (col("c12").cast("double") - lit(discount)) / col("c1").cast("double") +
          ((lit(discount) * col("n1p_l").cast("double")) /
            col("c1").cast("double")) *
            (col("n1p_r").cast("double") / col("nbd").cast("double"))), 6)
        .as("lp"))
    val perDoc = bi.join(lp, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.DeterministicAgg.exactSum(col("lp")).as("slp"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(roundFixed(col("slp") / col("n_bigrams"), 4))
          .as("kn_logprob"))
  }

  /** Corpus collocations by pointwise mutual information — the classic
    * multi-word-expression miner (Church & Hanks 1990) a tokenizer/
    * phrase-vocabulary pipeline runs before merging frequent pairs:
    *
    *   pmi(w1 w2) = log10( (c12/B) / ((c1/T)·(c2/T)) )
    *
    * over positional bigram count c12, unigram counts c1/c2, bigram total
    * B and token total T, keeping pairs seen ≥ `minCount` times and
    * reporting the top-`k` by (pmi, bigram). The min-count cut is load-
    * bearing twice: statistically (hapax pairs have degenerate PMI) and
    * for scale (the ranked relation is the FILTERED collocation set —
    * vocab-sparse — so the rank window's single partition is bounded, the
    * [[lengthQuantiles]] boundedness argument).
    *
    * Plan: one bigram explode → c12 hash agg; unigram counts join twice
    * from the same canonical subtree so the exchange is computed once
    * (the [[Similarity.covarianceMatrix]] ReuseExchange discipline) — and
    * WITHOUT a broadcast hint: the vocabulary grows with the corpus, so
    * the side choice belongs to stats/AQE (the r8-verdict forced-hint
    * rule). Totals ride 1-row broadcasts. log10 once per surviving pair,
    * quantized 1e-6 pre-rank.
    */
  def collocationsPmi(documents: DataFrame, minCount: Int = 5,
                      k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(explode(tokens(col("text"))).as("term"))
    val c1 = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val tTot = c1.agg(sum(col("c")).as("t"))
    val bi = documents.select(
      explode(positionalShingles(tokens(col("text")), 2)).as("bg"))
    val c12 = bi.groupBy("bg").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val bTot = bi.agg(count(lit(1)).as("b"))
    val scored = c12
      .join(c1.as("u1"), col("w1") === col("u1.term"))
      .join(c1.as("u2"), col("w2") === col("u2.term"))
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(bTot))
      .select(col("bg").as("bigram"), col("c12").as("n_pair"),
        roundFixed(log10(
          (col("c12").cast("double") / col("b").cast("double")) /
            ((col("u1.c").cast("double") / col("t").cast("double")) *
              (col("u2.c").cast("double") / col("t").cast("double")))), 6)
          .as("pmi"))
    val w = Window.orderBy(col("pmi").desc, col("bigram").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("bigram"), col("n_pair"), col("pmi"), col("rank"))
  }

  /** Phrase merging — the APPLY half of collocation mining (what word2vec
    * phrase training does with its scored bigrams): the top-`topK` PMI
    * collocations become merge rules, and every document re-tokenizes
    * with matching adjacent pairs fused into `w1_w2`, greedy leftmost
    * non-overlapping (a merged token never chains within the pass —
    * merged names carry '_' while rules are space-joined raw pairs).
    *
    * The rule set is a driver-collected artifact BOUNDED at topK (the
    * published-rules / trainedCodebook discipline), and the application is
    * a row-local O(n) fold in a typed map — the [[textrankKeywords]]
    * lesson applied up front: an `aggregate` HOF fold with per-element
    * array slicing is O(n²) per doc and off codegen, a plain local fold
    * is linear, and both engines' semantics (the DuckDB oracle replays
    * the fold with `list_reduce`) are pure string ops with no float
    * determinism surface at all.
    */
  def mergePhrases(documents: DataFrame, minCount: Int = 5,
                   topK: Int = 50): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val phraseSet = collocationsPmi(documents, minCount, topK)
      .select(col("bigram")).collect().map(_.getString(0)).toSet
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .as[(Long, Seq[String])]
      .map { case (id, toks0) =>
        val toks = if (toks0 == null) Seq.empty[String] else toks0
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { x =>
          if (out.nonEmpty && phraseSet.contains(out.last + " " + x))
            out(out.length - 1) = out.last + "_" + x
          else out += x
        }
        (id, toks.length.toLong, out.length.toLong,
          (toks.length - out.length).toLong, out.mkString(" "))
      }
      .toDF("doc_id", "n_before", "n_after", "n_merges", "merged_text")
  }

  /** CCNet-style perplexity bucketing — the quality-tiering step that
    * splits a corpus into head/middle/tail thirds per language by model
    * score (here the [[unigramLogProb]] proxy; a real LM score would be a
    * precomputed column feeding the identical plan). Thresholds are EXACT
    * per-lang tertiles of the quantized logprob via the
    * [[lengthQuantiles]] histogram machinery — the 1e-4 quantization makes
    * the score DISCRETE, so the threshold histogram is bounded by the
    * score grid (metadata-scale) no matter the corpus size, and the
    * cumulative window runs over histogram rows only. The per-doc score
    * relation is localCheckpointed so the expensive unigram pipeline runs
    * once, not once per consumer (at 100 TB it would be a materialized
    * column); the two 5-row threshold tables broadcast into the final
    * bucketing join. Token-free documents bucket as 'empty' and are
    * excluded from the threshold population.
    *
    * Bucket semantics: tail = logprob ≤ q(1/3), middle = ≤ q(2/3), head
    * above — higher unigram logprob reads "more typical of the corpus",
    * the CCNet head.
    */
  def pplBuckets(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lp = unigramLogProb(documents)
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("logprob"))
      .localCheckpoint(false)
    // tertile thresholds via the shared histogram cumulative-pick
    val qs = histQuantiles(
      lp.filter(col("logprob").isNotNull).select(col("lang"), col("logprob")),
      "lang", "logprob", Seq(1.0 / 3, 2.0 / 3))
    val thr = qs.groupBy(col("lang")).agg(
      max(when(col("p") === lit(1.0 / 3), col("q"))).as("q13"),
      max(when(col("p") === lit(2.0 / 3), col("q"))).as("q23"))
    lp.join(broadcast(thr), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("logprob"),
        when(col("logprob").isNull, lit("empty"))
          .when(col("logprob") <= col("q13"), lit("tail"))
          .when(col("logprob") <= col("q23"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  /** Temperature-sampled source-mixing weights — the domain-mixture step of
    * assembling a training corpus (the mBERT/XLM-R alpha-sampling rule):
    * a source's sampling share is proportional to its token count raised to
    * `alpha` < 1, which up-weights small domains relative to raw
    * proportional sampling; `weight` is the per-document multiplier a
    * sampler applies (alpha_share / token_share), and `budget_tokens` the
    * source's slice of a fixed token budget.
    *
    * Everything is one source-keyed hash agg (sources are metadata-scale
    * next to the corpus; the per-doc token size() is a narrow map under the
    * partial agg) plus a 1-row broadcast of the totals. Determinism: the
    * alpha powers are quantized to 1e-6 per source and the cross-source sum
    * runs decimal-backed, so the published shares replay exactly in SQL.
    */
  def mixWeights(documents: DataFrame, alpha: Double = 0.5,
                 budgetTokens: Long = 1000000L): DataFrame = {
    val per = documents.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val q = per.withColumn("s_alpha",
      roundFixed(pow(col("n_tokens").cast("double"), lit(alpha)), 6))
    val tot = q.agg(
      sum(col("n_tokens")).as("t_total"),
      graft.functions.DeterministicAgg.exactSum(col("s_alpha")).as("a_total"))
    val tokenShare = col("n_tokens").cast("double") / col("t_total").cast("double")
    val alphaShare = col("s_alpha") / col("a_total")
    q.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        roundFixed(tokenShare, 6).as("token_share"),
        roundFixed(alphaShare, 6).as("alpha_share"),
        roundFixed(alphaShare / tokenShare, 6).as("weight"),
        floor(roundFixed(alphaShare, 6) * lit(budgetTokens.toDouble))
          .cast("long").as("budget_tokens"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): rank raw
    * documents by how much their hashed-unigram profile resembles a TARGET
    * domain — here the `targetLang` slice of the corpus — versus the raw
    * corpus as a whole. Per hash bucket b,
    *
    *   llr(b) = lp_tgt(b) − lp_raw(b),
    *   lp_X(b) = log10((c_X(b) + 1) / (T_X + B))   (add-one over B buckets)
    *
    * and a document's weight is the mean llr over its token buckets:
    * positive ⇒ its feature profile is more target-like than the corpus
    * average, the DSIR resampling preference.
    *
    * Scale shape: hashing into a FIXED B = `buckets` feature space is the
    * point of DSIR — the bucket relation is ≤ B rows regardless of corpus
    * size, so both bucket counts ride one explode + one bounded hash agg,
    * the llr table broadcasts at any SF, and the per-doc pass is the
    * [[unigramLogProb]] join discipline (vocab-side broadcast, one hash agg
    * back to documents). Determinism: log10 once per DISTINCT bucket,
    * quantized at 1e-6 BEFORE the decimal-exact per-doc sum — identical to
    * the unigram/bigram LM contract, so DuckDB replays it digit-for-digit.
    */
  def dsirWeights(documents: DataFrame, targetLang: String = "en",
                  buckets: Int = 4096): DataFrame = {
    val toks = documents.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("term"))
      .withColumn("bucket", pmod(portableHash64(col("term")), lit(buckets.toLong)))
    // ONE corpus pass (round-17): the old shape exploded + sha256-hashed
    // every token occurrence TWICE (once for the bucket counts, once for
    // the per-doc join). Pre-aggregate to (doc, lang, bucket, cnt) — the
    // map-side partial collapses occurrences before the shuffle — and
    // derive both the global bucket counts and the per-doc sums from it.
    // MATERIALIZED: the two consumers' subtrees differ only above the
    // exchange, but runtime exchange reuse measurably does NOT fire for
    // them (probed: zero ReusedExchange in the adaptive final plan), so
    // without the checkpoint the corpus explode still ran twice. Rows are
    // the collapsed (doc, lang, bucket, cnt) relation — ≤ docs·buckets,
    // the per-doc token histogram a real DSIR run persists anyway.
    // Measured 1.72 → 1.44 s at sf0.1, outputs identical.
    val perDocBucket = toks.groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val counts = perDocBucket.groupBy("bucket").agg(
      sum(when(col("lang") === lit(targetLang), col("cnt")).otherwise(0L))
        .as("c_tgt"),
      sum(col("cnt")).as("c_raw"))
    // totals via a whole-relation window over the ≤B-row counts table, NOT a
    // separate agg + crossJoin: the agg form duplicates the corpus-explode
    // subtree in the plan (a third full scan); the window is one
    // SinglePartition exchange of ≤B rows
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val llr = counts
      .withColumn("t_tgt", sum(col("c_tgt")).over(wAll))
      .withColumn("t_raw", sum(col("c_raw")).over(wAll))
      .select(
      col("bucket"),
      (roundFixed(log10((col("c_tgt") + lit(1L)).cast("double") /
          (col("t_tgt") + lit(buckets.toLong)).cast("double")), 6) -
        roundFixed(log10((col("c_raw") + lit(1L)).cast("double") /
          (col("t_raw") + lit(buckets.toLong)).cast("double")), 6)).as("llr"))
    // Σ llr over a doc's occurrences == Σ_bucket decimal(llr)·cnt, EXACTLY:
    // cast(llr as decimal(28,10)) is numerically cast(llr as decimal(38,10))
    // (|llr| < 10^18 trivially), and (28,10)·(8,0) = decimal(37,10) — within
    // the 38 cap, so Spark performs the integer multiply with NO scale
    // adjustment: the product is the decimal summand repeated cnt times.
    // (A (38,10) cast would overflow to scale 6 on multiply and ROUND.)
    val llrDec = col("llr").cast(org.apache.spark.sql.types.DecimalType(28, 10))
    val cntDec = col("cnt").cast(org.apache.spark.sql.types.DecimalType(8, 0))
    val perDoc = perDocBucket.join(broadcast(llr), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(llrDec * cntDec).cast("double").as("sllr"))
    documents.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_tokens").isNull, lit(null).cast("double"))
          .otherwise(roundFixed(col("sllr") / col("n_tokens"), 4))
          .as("dsir_weight"),
        when(col("n_tokens").isNull, lit(false))
          .otherwise(roundFixed(col("sllr") / col("n_tokens"), 4) > lit(0.0))
          .as("selected"))
  }

  /** BPE-style pre-tokenization pattern (the GPT-2 pre-tokenizer's ASCII
    * core): maximal letter runs, digit runs, and single non-space symbols.
    * Kept to ASCII classes so Java regex (Spark) and RE2 (DuckDB) agree
    * character-for-character — including whitespace: Java's `\s` contains
    * U+000B (vertical tab) while RE2's does not, so the whitespace set is
    * spelled out explicitly instead of `\s` (round-3 advisor finding). */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"

  /** Token counting the way a tokenizer-training pipeline needs it: BPE-ish
    * pre-token counts per class (letter runs / digit runs / symbols).
    *
    * Counts each class with its own `regexp_count` over the raw text
    * instead of materializing the token array and filtering it three
    * times: [[bpePattern]]'s alternatives are DISJOINT character classes,
    * so the maximal matches of each alternative alone are exactly the
    * full tokenization's members of that class — no token can start
    * inside another class's match. This is pure counting codegen with
    * zero per-token allocation (the array form's UTF8String[] was the
    * memory-bandwidth bottleneck: 16.5x wall for 10x corpus / ~14x
    * characters; see SCALE.md). Per-row expressions only, no shuffle.
    */
  def bpeTokenStats(documents: DataFrame): DataFrame = {
    val alpha = regexp_count(col("text"), lit("[A-Za-z]+"))
    val num = regexp_count(col("text"), lit("[0-9]+"))
    val punct = regexp_count(col("text"), lit("[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"))
    documents.select(
      col("doc_id"),
      (alpha + num + punct).cast("long").as("n_bpe_tokens"),
      alpha.cast("long").as("n_alpha"),
      num.cast("long").as("n_num"),
      punct.cast("long").as("n_punct"))
  }

  /** PII patterns for [[redactPii]] — conservative ASCII regex, no
    * backrefs/lookarounds, so Java regex (Spark) and RE2 (DuckDB) agree
    * match-for-match; one definition interpolated into BOTH engines.
    * Application order matters and is part of the contract: emails first
    * (they contain digits/dots an IP or digit-run pattern would chew),
    * then IPs, then long digit runs (card-shaped), then phone-shaped
    * sequences — placeholders contain no digits, so later patterns can
    * never match inside an earlier replacement. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("card", "[0-9]{13,16}", "<CARD>"),
    ("phone", "\\+?[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>")
  )

  /** PII redaction — the curation step every training-data pipeline runs
    * before anything else sees the text: typed placeholder substitution for
    * email / IPv4 / card-shaped digit runs / phone-shaped sequences, plus
    * per-document counts of the substitutions PERFORMED. Pure per-row
    * codegen'd regex — embarrassingly parallel, no shuffle, and the oracle
    * replays the identical pattern chain with DuckDB's global-replace flag.
    *
    * The counters are derived from the redacted OUTPUT (occurrences of each
    * placeholder — a literal substring count, one cheap non-regex scan per
    * kind) rather than by re-running every pattern over the original text:
    * that halves the regex passes from 8 to 4 (r5 verdict #7 — this
    * operator is perfectly linear in characters, so its 10x-corpus slope is
    * bought down by cutting the per-character constant). Placeholders are
    * inert under later passes (they contain no digits or '@', so no later
    * pattern can match into or across one), which makes "occurrences in the
    * final text" ≡ "substitutions performed" — modulo a document that
    * already contains a literal placeholder token, which counts as a
    * redaction (acceptable for a diagnostic counter; the redacted text
    * itself is unaffected). Note the counts are therefore POST-precedence:
    * digits consumed by an earlier pattern no longer increment a later
    * pattern's counter — the counters now report what the redactor DID,
    * where the pre-r6 raw per-pattern diagnostics could overlap.
    */
  /** The redaction chain itself — ONE builder shared by [[redactPii]] and
    * the `graft_redact_pii` SQL function, so the fold order and
    * pattern/replacement pairing cannot drift between surfaces. */
  def redactChain(text: Column): Column =
    piiPatterns.foldLeft(text) {
      case (acc, (_, pat, repl)) => regexp_replace(acc, pat, repl)
    }

  def redactPii(documents: DataFrame): DataFrame = {
    val kinds = piiPatterns.map { case (kind, _, repl) =>
      // occurrences of the placeholder literal: (len - len(without)) / len(repl)
      // — `replace` is a plain substring scan, not a regex
      ((length(col("redacted_text")) -
        length(replace(col("redacted_text"), lit(repl), lit("")))) /
        repl.length).cast("long").as(s"n_$kind")
    }
    documents
      .select(col("doc_id"), redactChain(col("text")).as("redacted_text"))
      .select((col("doc_id") +: col("redacted_text") +: kinds): _*)
  }

  /** Repetition quality signals per document — the Gopher-style curation
    * filters (Rae et al. 2021 §A1.1: duplicate-word/-n-gram fractions and
    * most-frequent-word fraction flag boilerplate and degenerate text).
    * All counts are integer-exact; the two fractions are exact-integer
    * ratios under the engine-portable floor-round, so the whole row
    * hash-oracles.
    *
    * Distributed shape (the 100 TB reason this is NOT a per-row HOF over
    * `aggregate(array_distinct(...))`): per-term counting inside one row is
    * O(n·distinct) per document — quadratic on a million-token document —
    * and the array form holds the whole document in one aggregation buffer.
    * Instead: ONE union of the exploded words and positional 2-grams
    * (tagged by kind) → hash agg on (doc_id, kind, term) with map-side
    * partials → hash agg on doc_id. Two shuffles total, no join, no
    * window, O(1) aggregation state per group. Documents with zero tokens
    * have no exploded rows and are absent from the output (same as the
    * oracle's unnest).
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val toksCol = tokens(col("text"))
    // terms are REDUCED TO THEIR 64-BIT HASH before the shuffle: every
    // downstream statistic is a pure function of the term MULTISET (counts,
    // distinct counts, max multiplicity), which xxhash64 preserves modulo a
    // within-document 64-bit collision (~n²/2⁶⁵ per doc — vanishing, and
    // the oracle's term-string replica computes identical values unless one
    // actually occurs). At the 10x corpus the term strings are the shuffle:
    // prefixed 2-grams average ~17 bytes vs the fixed 8-byte hash, and the
    // hash agg compares longs instead of strings (r5 verdict #7).
    val terms = documents
      .select(col("doc_id"), lit(1).as("kind"),
        explode(toksCol).as("term"))
      .unionByName(documents.select(col("doc_id"), lit(2).as("kind"),
        explode(positionalShingles(toksCol, 2)).as("term")))
      .select(col("doc_id"), col("kind"), xxhash64(col("term")).as("term"))
    val isWord = col("kind") === 1
    val isGram = col("kind") === 2
    terms
      .groupBy(col("doc_id"), col("kind"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(isWord, col("cnt")).otherwise(0L)).as("n_words"),
        count(when(isWord, lit(1))).as("n_distinct_words"),
        max(when(isWord, col("cnt"))).as("top_word_count"),
        sum(when(isWord && col("cnt") > 1, col("cnt")).otherwise(0L))
          .as("dup_word_instances"),
        sum(when(isGram, col("cnt")).otherwise(0L)).as("n_2grams"),
        sum(when(isGram && col("cnt") > 1, col("cnt")).otherwise(0L))
          .as("dup_2gram_instances"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        col("top_word_count"), col("dup_word_instances"), col("n_2grams"),
        col("dup_2gram_instances"),
        roundFixed(col("top_word_count").cast("double") /
          col("n_words").cast("double"), 4).as("top_word_frac"),
        when(col("n_2grams") === 0L, lit(0.0))
          .otherwise(roundFixed(col("dup_2gram_instances").cast("double") /
            col("n_2grams").cast("double"), 4)).as("dup_2gram_frac"))
  }

  /** Per-document Shannon CHARACTER ENTROPY — the junk detector the
    * heuristic quality ladder was missing: near-zero entropy flags
    * repeated-character padding, near-log2(charset) flags random noise;
    * real prose sits in a stable band (the Gopher-class "symbol
    * distribution" signal). Computed as `log2(n) − (Σ c·log2 c)/n` over
    * per-char counts so every input to the floats is an exact integer.
    *
    * Determinism discipline: a plain float SUM over the counts would vary
    * with Spark's partition merge order, so the counts are collected into
    * a char-SORTED array (bounded by the CHARSET, ≤ ~100 entries — the
    * windowCountsCapped exception to the no-collect_list rule) and folded
    * in that fixed order; the oracle replays the identical ordered fold
    * with `list(k ORDER BY c)` + `list_reduce`. One explode + two hash
    * aggs, all partial-combining; state per doc is O(charset), so the
    * shape is flat at any corpus size.
    */
  def charEntropy(documents: DataFrame): DataFrame = {
    val counts = documents
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .filter(col("c") =!= "")
      .groupBy(col("doc_id"), col("c"))
      .agg(count(lit(1)).as("k"))
    counts
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n"),
        count(lit(1)).as("n_distinct_chars"),
        sort_array(collect_list(struct(col("c"), col("k")))).as("ks"))
      .select(col("doc_id"), col("n_distinct_chars"),
        roundFixed(
          log2(col("n")) -
            aggregate(col("ks"), lit(0.0),
              (a, x) => a + x.getField("k").cast("double") *
                log2(x.getField("k"))) / col("n"), 4).as("entropy"))
  }

  /** Corpus statistics per (lang, source): document/char/token counts. The
    * group key has tiny cardinality, so this is one partial+final hash agg
    * with negligible shuffle at any scale.
    */
  def textStats(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        roundFixed(sum(col("n_tokens")).cast("double") / count(lit(1)), 4)
          .as("avg_tokens")
      )

  /** TF-IDF top-`k` terms per document — the keyword/feature-extraction
    * staple: tf = raw in-doc count, idf = ln(N/df). Two hash aggregations
    * (term frequencies, document frequencies) and one equi-join on term;
    * the vocabulary table scales with distinct terms, not corpus size, and
    * nothing here broadcasts by force (AQE may choose to).
    *
    * Ranking is (tf desc, df asc, term asc) — the INTEGER order that
    * realizes tf·idf descending (higher tf wins; equal tf → rarer term
    * wins) without putting a float in the sort key, so the top-k set can
    * never flip on a last-ulp ln() difference between engines. The oracle
    * ranks by the identical integer key. The float tfidf value itself is in
    * the API output but NOT in the driver's oracled projection: it is
    * computed by two independent libm `ln`s (JVM vs DuckDB), and a last-ulp
    * difference landing exactly on a floor(x·1e6+0.5) boundary would flip
    * the emitted value (round-3 advisor finding) — the hash gate compares
    * only the exact-integer columns (tf, df, rnk).
    */
  def tfIdfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus size: a metadata-only count, the scalar the idf formula needs
    val n = documents.count()
    val toks = documents.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = toks.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfT, Seq("term"))
      .withColumn("tfidf", roundFixed(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rnk"))
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * near-dup pair graph, labeling every clustered document with the
    * minimum doc_id of its component — what a dedup pipeline actually needs
    * when duplicates chain (A≈B≈C with A̸≈C must still collapse to one
    * representative).
    *
    * Min-label propagation WITH POINTER JUMPING to a fixed point: each
    * round every node takes the min of its own and its neighbors' labels
    * (edge relax), then chases its own label one step (label ← label of
    * label — every label value is itself a node id, so the lookup is a
    * self-join). Relax alone needs diameter rounds; the jump halves the
    * remaining pointer distance each round, so convergence is
    * O(log diameter) — a long path component that would abort a
    * relax-only loop converges comfortably (round-3 advisor; asserted in
    * TextOpsSpec on a 12-chain under a bound relax alone cannot meet).
    * The driver-side fixed-point check is the standard shape for
    * iterative distributed graph algorithms, same as GraphX/Pregel;
    * `localCheckpoint` truncates the per-iteration lineage so the plan
    * doesn't grow exponentially. Each round is two equi-joins + one hash
    * agg on node ids — no arrays, no cross join.
    */
  def nearDupClusters(documents: DataFrame, n: Int = 5, threshold: Double = 0.4,
                      maxIters: Int = 20): DataFrame = {
    val pairs = nearDupPairs(documents, n, threshold).select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      .localCheckpoint(true)

    // (LAZY loop checkpoints — the bpeTrain discipline — were A/B'd here
    // in round 17 and REJECTED: +0.2 s on both cluster queries at sf0.1.
    // Unlike the vocab-scale BPE loop, each round's relation is consumed
    // by a count AND the next round's three references, and the
    // cache-on-first-use path measured slower than one eager job.)
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neighborMin = edges
        .join(labels, edges("doc_b") === labels("node"))
        .groupBy(edges("doc_a").as("nb_node"))
        .agg(min(col("label")).as("nmin"))
      val relaxed = labels
        .join(neighborMin, col("node") === col("nb_node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("relaxed"))
      // pointer jump: label ← relaxed(label). Label values are always node
      // ids (they start as ids and min() only selects among them), so the
      // self-join always finds its row; the left join + coalesce guards the
      // root (label = itself) without a special case.
      val updated = relaxed
        .join(relaxed.select(col("node").as("jump_node"),
          col("relaxed").as("jump_label")),
          col("relaxed") === col("jump_node"), "left")
        .select(col("node"), col("label"),
          least(col("relaxed"), coalesce(col("jump_label"), col("relaxed")))
            .as("new_label"))
        .localCheckpoint(true)
      changed = updated.filter(col("new_label") =!= col("label")).count()
      labels = updated.select(col("node").as("node"), col("new_label").as("label"))
      iter += 1
    }
    // a silent cut-off would emit labels that LOOK converged but differ
    // from the true components (and from the oracle's transitive closure)
    // — fail loudly instead; component diameter > maxIters means the
    // caller should raise the bound
    if (changed > 0) throw new IllegalStateException(
      s"nearDupClusters did not converge in $maxIters rounds " +
        s"($changed labels still changing) — raise maxIters (component " +
        "diameter exceeds the bound)")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** QUALITY-AWARE canonical selection — the dedup DECISION step: given
    * the verified near-dup clusters, keep each cluster's highest-quality
    * member instead of the arbitrary min-id canonical (what production
    * dedup actually does: of N copies, retain the cleanest). One
    * cluster_id shuffle serves both windows (the argmax rank and the
    * member count); the cluster relation is component-count-scale, so
    * everything after the cluster finder is metadata work. Ties break
    * (quality DESC, doc_id ASC) — deterministic on the 1e-4 quality
    * grid. */
  def dedupKeepBest(documents: DataFrame, n: Int = 5,
                    threshold: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = nearDupClusters(documents, n, threshold)
    val quality = qualityScore(documents)
      .select(col("doc_id"), col("quality_score"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val w = byCluster.orderBy(col("quality_score").desc, col("doc_id").asc)
    clusters
      .join(quality, Seq("doc_id"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rnk") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("quality_score").as("kept_quality"), col("n_members"))
  }

  /** End-to-end curation pipeline — the composite the other operators
    * exist for: quality-gate → exact dedup (keep canonical doc) → near-dup
    * removal (drop the higher doc_id of each verified pair) → per-language
    * corpus stats of the surviving set.
    *
    * Composition of the individually-oracled stages; each stage is a narrow
    * filter or an equi-join on ids, so the whole pipeline inherits the
    * per-stage scale properties (no new shuffles beyond the stages' own).
    */
  def curationPipeline(documents: DataFrame, minQuality: Double = 0.4,
                       nearDupThreshold: Double = 0.4): DataFrame = {
    // (a localCheckpoint of this keep-set — `qualified` is referenced by
    // all three downstream stages — was A/B'd in round 17 and measured a
    // WASH at sf0.1 (1.67 vs 1.71 s): the per-row quality pass is cheap
    // enough that the extra materialization job cancels the saved passes.
    // Left un-checkpointed; the heavier composed chain in
    // [[curationPipelineFull]] keeps its measured-win gate checkpoint.)
    val quality = qualityScore(documents)
      .filter(col("quality_score") >= minQuality)
      .select(col("doc_id"))
    val qualified = documents.join(quality, Seq("doc_id"), "left_semi")

    val exactSurvivors = dedupedDocs(qualified)

    // drop the non-canonical side of every verified near-dup pair
    val dupLosers = nearDupPairs(qualified, n = 5, threshold = nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val clean = exactSurvivors.join(dupLosers, Seq("doc_id"), "left_anti")

    clean
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("first_doc_id")
      )
  }

  /** Corpus DATASHEET — the one-stop profile report a dataset release ships
    * ("Datasheets for Datasets", Gebru et al. 2018): headline counts,
    * token/char volume, exact-duplication rate, length distribution, and
    * per-lang/per-source composition, as one long-format (metric, value)
    * table.
    *
    * Cost discipline at 100 TB: ONE corpus pass computes every scalar
    * metric (a single hash agg; `stack` unpivots the 1-row result —
    * metadata-scale), the median rides the shared [[histQuantiles]]
    * histogram (its only global window runs over histogram rows, value-grid
    * scale), and the two composition breakdowns are one group-by each.
    * Values are doubles (counts exactly representable; the one ratio is
    * `roundFixed`), so the whole report hash-oracles.
    */
  def corpusDatasheet(documents: DataFrame): DataFrame = {
    val b = documents.select(col("lang"), col("source"), col("n_chars"),
      col("text"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    val wide = b.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).as("total_chars"),
      sum(col("n_tokens")).as("total_tokens"),
      countDistinct(col("text")).as("n_unique_texts"),
      min(col("n_chars")).as("chars_min"),
      max(col("n_chars")).as("chars_max"))
    val scalar = wide.select(
      col("n_docs").cast("double").as("n_docs"),
      col("n_langs").cast("double").as("n_langs"),
      col("n_sources").cast("double").as("n_sources"),
      col("total_chars").cast("double").as("total_chars"),
      col("total_tokens").cast("double").as("total_tokens"),
      (col("n_docs") - col("n_unique_texts")).cast("double").as("exact_dup_docs"),
      roundFixed(col("total_tokens").cast("double") / col("n_docs"), 4)
        .as("avg_tokens_per_doc"),
      col("chars_min").cast("double").as("chars_min"),
      col("chars_max").cast("double").as("chars_max")
    ).selectExpr(
      """stack(9,
           'n_docs', n_docs, 'n_langs', n_langs, 'n_sources', n_sources,
           'total_chars', total_chars, 'total_tokens', total_tokens,
           'exact_dup_docs', exact_dup_docs,
           'avg_tokens_per_doc', avg_tokens_per_doc,
           'chars_min', chars_min, 'chars_max', chars_max)
         AS (metric, value)""")
    val median = histQuantiles(
      b.select(lit("all").as("stratum"), col("n_chars")),
      "stratum", "n_chars", Seq(0.5))
      .select(lit("chars_p50").as("metric"), col("q").cast("double").as("value"))
    val byLang = b.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .select(concat(lit("docs_lang:"), col("lang")).as("metric"),
        col("c").cast("double").as("value"))
    val bySource = b.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .select(concat(lit("docs_source:"), col("source")).as("metric"),
        col("c").cast("double").as("value"))
    scalar.unionAll(median).unionAll(byLang).unionAll(bySource)
  }

  /** Corpus vocabulary — the top-`topN` terms by document-corpus frequency
    * with a deterministic rank (count desc, term asc), the table a
    * tokenizer-training run starts from. Shaped for scale: one partial+final
    * hash agg over exploded tokens, then orderBy+limit (Spark plans
    * TakeOrdered — per-partition top-N + merge, never a global sort) and a
    * rank window over the ≤topN survivors only (bounded regardless of
    * vocabulary size).
    */
  def vocabTopTerms(documents: DataFrame, topN: Int = 1000): DataFrame = {
    val counts = documents
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(topN)
    // Ranking the ≤topN survivors with row_number() over an empty partition
    // spec makes WindowExec log "No Partition Defined … moving all data to a
    // single partition" on every run — a warning that reads like a scale bug
    // it isn't, because the window input is already GlobalLimit-bounded (r5
    // verdict #4; a literal partition key doesn't help — Spark 4's
    // EliminateWindowPartitions folds it right back to the empty spec). So
    // the rank is derived WITHOUT a window: localCheckpoint the bounded set
    // (lazy, ≤topN rows, one corpus scan shared by both sides) and count
    // strictly-stronger rows via a broadcast self-join — ≤topN² comparisons,
    // identical to row_number() over (n DESC, term ASC) since term is unique.
    val c = counts.localCheckpoint(false)
    val stronger = c.select(col("n").as("n2"), col("term").as("term2"))
    c.join(broadcast(stronger),
        col("n2") > col("n") || (col("n2") === col("n") && col("term2") < col("term")),
        "left")
      .groupBy(col("term"), col("n"))
      .agg((count(col("term2")) + 1L).as("rnk"))
      .select(col("term"), col("n"), col("rnk"))
  }

  /** Deterministic stratified sampling — reproducible corpus selection, the
    * step that turns "take 30% of English, 80% of the rest" into something
    * re-runnable across engines and re-shuffles: a document is kept iff
    * `portableHash64(doc_id) % 10000 < rate·10000` for its stratum's rate.
    * Content-stable (the decision depends only on the key and rate, not on
    * partitioning, order, or a seed stream), embarrassingly parallel, and
    * exactly reproducible by the DuckDB oracle through the same sha-prefix
    * fold. Rates are per-`lang` with a default for unlisted strata.
    */
  def stratifiedSample(documents: DataFrame, rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame = {
    // thresholds become INTEGER literals here, in one place: Spark's
    // double→long cast truncates while DuckDB's rounds, so the oracle must
    // never re-derive the threshold from the float rate
    def thresholdOf(r: Double): Long = (r * 10000.0).toLong
    val threshold = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(thresholdOf(defaultRate))) { case (acc, (lang, r)) =>
        when(col("lang") === lang, lit(thresholdOf(r))).otherwise(acc)
      }
    documents
      .withColumn("sample_bucket",
        pmod(portableHash64(col("doc_id").cast("string")), lit(10000L)))
      .filter(col("sample_bucket") < threshold)
      .drop("sample_bucket")
  }

  /** Fixed-SIZE per-stratum holdout — the eval-set carve-out, the
    * exact-count complement of the rate-based [[stratifiedSample]]: exactly
    * `perStratum` documents per `lang` (fewer only if the stratum is
    * smaller), chosen by ascending [[portableHash64]] of the doc id — an
    * order-free, seed-free deterministic "random" draw the oracle replays
    * digit-for-digit. An eval holdout must be exact-size (benchmarks
    * compare like-for-like counts) and unbiased by ingestion order, which
    * Bernoulli sampling can't give: its stratum sizes fluctuate and a
    * sorted-id prefix would correlate with crawl time.
    *
    * Scale shape: ONE rank window partitioned by lang — Spark's
    * WindowGroupLimit pushes the `<= perStratum` filter below the sort, so
    * every partition forwards at most perStratum rows per stratum into the
    * (lang-keyed, parallel) shuffle; nothing resembles a global sort.
    * Hash-collision ties break on doc_id.
    */
  def holdoutSample(documents: DataFrame, perStratum: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("draw").asc, col("doc_id").asc)
    documents
      .withColumn("draw", portableHash64(col("doc_id").cast("string")))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= perStratum)
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rank"))
  }

  /** Token-budget selection — the data-mixing step of training-corpus
    * construction: within each `lang`, keep the highest-quality documents
    * whose RUNNING token total stays within the per-lang budget (quality
    * ties broken by doc_id, so the selection is a deterministic function
    * of content). The order key is [[qualityScore]]'s `quality_score`,
    * which is floor-rounded to 4 decimals on both engines — no float
    * comparison ambiguity can flip the selection. Same partition-parallel
    * window shape as [[packDocuments]]: one running sum per lang partition
    * over the single scoring pass (`lang` rides through [[qualityScore]] —
    * no self-join back to documents); nothing global.
    */
  def selectByTokenBudget(documents: DataFrame,
                          budgetPerLang: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qualityScore(documents, keep = Seq("lang"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetPerLang)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_tokens"), col("quality_score"))
  }

  /** Deterministic export sharding + manifest — the step that turns a
    * curated corpus into N balanced training shards a downstream loader can
    * plan reads over. A document's shard is
    * `portableHash64(doc_id) % numShards`: content-stable (independent of
    * partitioning, row order, and any seed), so a re-run — or the DuckDB
    * oracle — reproduces the exact assignment. The manifest is one
    * partial+final hash agg (numShards groups); the physical write at scale
    * is `df.write.partitionBy("shard")` on the same column, and hash
    * sharding keeps the shards balanced without a skew pass (LayoutSpec
    * pins the balance on real data).
    */
  def shardAssignments(documents: DataFrame, numShards: Int = 64): DataFrame =
    documents.withColumn("shard",
      pmod(portableHash64(col("doc_id").cast("string")), lit(numShards.toLong)))

  def shardManifest(documents: DataFrame, numShards: Int = 64): DataFrame =
    shardAssignments(documents, numShards)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("first_doc_id"),
        max(col("doc_id")).as("last_doc_id"))

  /** Sequence packing — assign documents to fixed-size context windows for
    * training-batch construction: within each `lang` partition, documents
    * are laid out in doc_id order and a document joins the pack its
    * STARTING token offset falls in (contiguous fill; the pack that a long
    * document straddles absorbs the overflow — the standard streaming-fill
    * discretization). One window (running token sum) per partition + one
    * hash agg; the partition key is what keeps the sort parallel at 100 TB
    * (a global pack order would funnel the corpus through one sort
    * partition). Emits per-pack rows: (lang, pack_id, n_docs, total_tokens).
    */
  def packDocuments(documents: DataFrame, contextTokens: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", expr(s"start_offset div $contextTokens"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc_id"),
        max(col("doc_id")).as("last_doc_id"))
  }

  /** The FULL end-to-end curation chain a 100 TB training-data run
    * actually executes ([[curationPipeline]] is the earlier three-stage
    * core; this is the round-15-verdict #7 composition, adding the
    * language gate at the front and decontamination → packing → sharding
    * behind the dedups), composed from the already-oracled stage
    * operators with NO reimplementation: language-id agreement ([[languageId]],
    * `lang_match`) → quality floor ([[qualityScore]] ≥ `qualityMin` on
    * the 4-decimal rounded score) → exact dedup ([[exactDedup]]
    * canonical ids) → MinHash near-dup keep-first ([[minhashPairs]]:
    * the LATER doc of every verified ≥ `nearDupThreshold` pair drops) →
    * benchmark decontamination ([[decontaminate]]: the bench split
    * itself and every contaminated doc drop) → sequence packing
    * ([[packDocuments]]) → hash-shard assignment of each pack by its
    * first document ([[shardAssignments]]'s content-stable rule). The
    * point of gating the COMPOSITION (round-15 verdict #7) is that the
    * stages' contracts compose: each stage consumes exactly the
    * documents-shaped survivor set of the previous one, so a column
    * domain or determinism break anywhere in the chain flips the final
    * pack/shard hash even when every stage passes its own gate.
    *
    * Scale shape: every inter-stage handoff is a semi/anti join on the
    * primary key `doc_id` — survivor sets are id-projections, never
    * text copies, so the corpus body is scanned by each stage's own
    * (already scale-audited) plan and the glue adds only key-join
    * shuffles that AQE broadcasts once survivors shrink. Each keep-set
    * is CHECKPOINTED at its stage boundary (an id-manifest, the natural
    * barrier artifact of a multi-stage curation job): without the
    * barrier, every downstream consumer's lineage re-derives EVERY
    * upstream stage — decontaminate alone consults its input three
    * times, which would re-run the near-dup banding three times — an
    * amplification measured at ~2.5x wall on the full chain at sf0.1
    * (7.7 s → ~3 s). Nothing here collects, re-sorts globally, or
    * widens any stage's state; the checkpoints hold ids only. */
  def curationPipelineFull(documents: DataFrame,
                           contextTokens: Int = 512,
                           qualityMin: Double = 0.35,
                           nearDupThreshold: Double = 0.7,
                           numShards: Int = 64): DataFrame = {
    // The two per-row gates (lang-id agreement, quality floor) FUSE into
    // one keep-set (round-17): both scores are pure per-document
    // expressions, so quality_score(documents) ≡ quality_score(lang
    // survivors) row for row and the composed survivor set is identical —
    // one checkpoint and one corpus semi-join instead of two of each
    // (measured ~0.7 s of the chain's wall). Stage operators still used
    // verbatim; only the glue got narrower.
    val gateKeep = languageId(documents)
      .filter(col("lang_match")).select(col("doc_id"))
      .join(qualityScore(documents)
        .filter(col("quality_score") >= qualityMin).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val d2 = documents.join(gateKeep, Seq("doc_id"), "left_semi")
    val canon = exactDedup(d2).select(col("canonical_id").as("doc_id"))
      .localCheckpoint()
    val d3 = d2.join(canon, Seq("doc_id"), "left_semi")
    val ndDrop = minhashPairs(d3, n = 5, threshold = nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct().localCheckpoint()
    val d4 = d3.join(ndDrop, Seq("doc_id"), "left_anti")
    val decKeep = decontaminate(d4)
      .filter(!col("contaminated")).select(col("doc_id")).localCheckpoint()
    val d5 = d4.join(decKeep, Seq("doc_id"), "left_semi")
    packDocuments(d5, contextTokens)
      .withColumn("shard", pmod(
        portableHash64(col("first_doc_id").cast("string")),
        lit(numShards.toLong)))
      .select(col("lang"), col("pack_id"), col("shard"), col("n_docs"),
        col("total_tokens"), col("first_doc_id"), col("last_doc_id"))
  }

  // ------------------------------------------------------------ fingerprints

  /** Winnowing document fingerprints (Schleimer et al., MOSS): hash word
    * k-grams, then keep the minimum hash of every sliding window of `w`
    * consecutive k-gram hashes. Guarantees any shared run of ≥ w+k-1 tokens
    * yields a shared fingerprint.
    *
    * Shaped as posexplode → SQL window min → re-aggregate rather than a
    * nested array-lambda: an expression inside a higher-order-function
    * lambda is re-evaluated PER ELEMENT, so the natural
    * `transform(seq, i -> array_min(slice(hashes, i, w)))` recomputes the
    * whole tokenize→shingle→hash chain for every window position — O(n²)
    * per document (measured: 277 s for 5000 docs). Here every stage is
    * evaluated once; the only shuffle is on doc_id, which scales
    * horizontally (documents are independent).
    */
  def fingerprints(documents: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // POSITIONAL k-grams (repeats kept): winnowing's shared-run guarantee is
    // over the document's gram SEQUENCE — deduplicating first would shift
    // window positions (round-2 advisor finding). Gram hash is the portable
    // sha2 prefix so the DuckDB oracle reproduces fingerprint values exactly.
    // fused native kernel: gram construction + portable hash in one
    // expression (parity with transform(positionalShingles, portableHash64)
    // asserted in VectorExpressionsSpec)
    val hashed = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        posexplode(graft.functions.VectorExpressions.gramShaHashes(col("toks"), k))
          .as(Seq("pos", "h")))

    // ONE window pass (the ordered sliding min); the per-doc count and
    // min-of-all come from a plain aggregation joined back on doc_id — not
    // extra window passes (round-2 verdict #5), and NOT a collect_list of
    // every gram (an unbounded per-group buffer — a pathologically long
    // document must not OOM an executor). The only per-group buffer left is
    // collect_set(fp), bounded by the OUTPUT fingerprint count (~grams/w
    // distinct minima — winnowing's own density), which is the result the
    // operator has to materialize anyway.
    val winMin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val stats = hashed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), min(col("h")).as("all_min"))

    val fps = hashed
      .withColumn("wmin", min(col("h")).over(winMin))
      .join(stats, Seq("doc_id"))
      // windows that fit entirely: pos ∈ [0, n-w]; short docs keep min-of-all
      .withColumn("fp",
        when(col("n") >= w, when(col("pos") <= col("n") - w, col("wmin")))
          .otherwise(col("all_min")))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("fp"))).as("fingerprints"))

    // docs with zero k-grams (shorter than k tokens) keep an empty set
    documents.select(col("doc_id"))
      .join(fps, Seq("doc_id"), "left")
      .withColumn("fingerprints",
        coalesce(col("fingerprints"), array().cast("array<bigint>")))
      .withColumn("n_fingerprints", size(col("fingerprints")).cast("long"))
  }

  /** Harness-canonical [[fingerprints]]: the fingerprint set rendered as a
    * comma-joined string (array cells are unsortable in hash-comparing
    * harnesses), values reproducible by the DuckDB oracle thanks to
    * [[portableHash64]]. */
  def fingerprintsCanonical(documents: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    fingerprints(documents, k, w)
      .withColumn("fingerprints",
        array_join(transform(col("fingerprints"), x => x.cast("string")), ","))

  // ------------------------------------------------- tokenizer training

  /** BPE merge-rule training (Sennrich et al. 2016) — the step that turns a
    * curated corpus into a tokenizer: the first `numMerges` merge rules by
    * corpus pair frequency, with the classic greedy-leftmost application
    * semantics.
    *
    * Distributed shape: the 100 TB corpus is touched ONCE (token explode →
    * word-frequency agg); every iteration after that runs on the VOCAB
    * table (distinct words × frequencies — the standard trainer's working
    * set, millions of rows at web scale, never corpus-sized). Per
    * iteration: adjacent-pair counts via a zip of two shifted segmentation
    * slices (one hash agg), the argmax rule collected (ONE row — the same
    * metadata-scale iteration collect as [[Similarity]]'s k-means), and
    * the rule applied per word with a fold (`aggregate` HOF) that merges
    * greedy-leftmost non-overlapping — `[a,a,a]` under rule (a,a) becomes
    * `[aa,a]`, exactly the reference BPE behavior. `localCheckpoint`
    * truncates the growing fold lineage each round (the
    * [[nearDupClusters]] discipline).
    *
    * Ties in pair counts break by (count desc, left asc, right asc); the
    * corpus is ASCII, so Spark's and the oracle's string orderings agree.
    * Returns the trained artifact: (merge_rank, left_sym, right_sym,
    * pair_count).
    */
  /** One BPE merge rule applied to a symbol sequence: the greedy-leftmost
    * non-overlapping fold (an `aggregate` HOF — per-row, no shuffle).
    * Shared by the trainer's per-iteration re-segmentation and
    * [[bpeEncode]]'s application of the learned ruleset. */
  private def applyMerge(seg: Column, a: String, b: String): Column =
    aggregate(seg, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, array(x))
        .when(element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  def bpeMerges(documents: DataFrame, numMerges: Int = 8): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeMergeRules(documents, numMerges)
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** The trained merge ruleset as collected driver-side rows (rank, left,
    * right, weighted pair count) — the artifact [[bpeEncode]] applies; the
    * training loop itself is distributed (per-iteration pair agg + 1-row
    * argmax collect, see [[bpeMerges]]'s scaladoc). */
  def bpeMergeRules(documents: DataFrame,
                    numMerges: Int = 8): Seq[(Int, String, String, Long)] =
    bpeTrain(documents, numMerges)._1

  /** The full training loop: returns the rules AND the final vocab
    * segmentation (word, freq, seg) so [[bpeEncode]] can reuse it instead
    * of re-deriving the vocabulary (a second corpus explode + distinct)
    * and re-folding all the rules (round-17). Loop checkpoints are LAZY
    * (eager=false): each round's seg materializes inside the NEXT round's
    * argmax job instead of as its own job, halving the loop's job count;
    * lineage still truncates at every round, so the plan stays linear in
    * numMerges. */
  private def bpeTrain(documents: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var seg = documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), split(col("word"), "").as("seg"))
      .localCheckpoint(false)
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    for (i <- 1 to numMerges) {
      val n = size(col("seg"))
      val winner = seg
        .select(col("freq"), explode(arrays_zip(
          slice(col("seg"), lit(1), n - 1), slice(col("seg"), lit(2), n - 1))).as("p"))
        .groupBy(col("p.0").as("a"), col("p.1").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      require(winner.nonEmpty,
        s"corpus exhausted at merge $i: every word is a single symbol")
      val (a, b, cnt) = (winner(0).getAs[String]("a"),
        winner(0).getAs[String]("b"), winner(0).getAs[Long]("cnt"))
      rules += ((i, a, b, cnt))
      seg = seg.select(col("word"), col("freq"),
        applyMerge(col("seg"), a, b).as("seg"))
        .localCheckpoint(false)
    }
    (rules.result(), seg)
  }

  /** BPE ENCODING with the trained ruleset — the apply half of the
    * tokenizer story ([[bpeMerges]] learns the rules; this tokenizes the
    * corpus with them and reports per-document BPE token counts, the number
    * a token-budget planner actually consumes).
    *
    * Scale shape — the vocabulary trick every real tokenizer pipeline uses:
    * rules apply to the DISTINCT-word vocabulary (vocab-scale, tiny next to
    * the corpus), as `numMerges` chained [[applyMerge]] folds in ONE
    * projection (per-row expressions, no shuffle); the corpus then
    * equi-joins its exploded words to the encoded vocab (the
    * [[unigramLogProb]] join discipline — the vocab side broadcasts and the
    * corpus streams map-side) and one hash agg lands the per-doc counts.
    * Zero-token documents survive the left join with 0s.
    */
  def bpeEncode(documents: DataFrame, numMerges: Int = 8): DataFrame = {
    // the trained loop's FINAL seg relation IS the fully-encoded distinct
    // vocabulary (same distinct-word set — training aggregates by word —
    // same rules folded in the same order), so reuse it instead of
    // re-exploding the corpus for a distinct() and re-folding all the
    // rules (round-17: one corpus pass and numMerges projections saved).
    val (_, trained) = bpeTrain(documents, numMerges)
    val encoded = trained
      .select(col("word"), size(col("seg")).cast("long").as("n_sym"))
    val perDoc = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(encoded), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  // ------------------------------------------------- decontamination

  /** Benchmark decontamination — the eval-leak filter every training
    * pipeline runs before a model ever sees the corpus (the n-gram-overlap
    * method: a training document sharing any word n-gram with a held-out
    * benchmark document is flagged). The benchmark membership here is a
    * deterministic content-stable split (`portableHash64("bench:"+doc_id)
    * % benchMod == 0`) so the oracle reproduces it; a real run would join
    * an external benchmark table through the same gram pipeline.
    *
    * Distributed shape: distinct grams per document (explode), the
    * benchmark side collapsed to a DISTINCT gram set and BROADCAST — a
    * benchmark is metadata-scale next to a 100 TB corpus (all of
    * HELM/MMLU/GSM8K is ~10⁷ grams), so the corpus side streams map-side
    * through the semi join with no shuffle of the big table. If the
    * benchmark ever outgrew broadcast, [[decontaminateBloom]] is the
    * scale path (sketch pre-filter, unhinted verify join, identical
    * output). Grams join on the
    * gram STRING (exact — no hash-collision false positives); at scale the
    * join key would be the 8-byte gram hash with the string kept only for
    * verify, same plan shape.
    *
    * Output: every NON-benchmark document with its count of distinct
    * overlapping grams and the resulting contamination flag.
    */
  def decontaminate(documents: DataFrame, n: Int = 5,
                    benchMod: Int = 10): DataFrame = {
    val (flagged, grams, benchGrams) = benchGramSplit(spreadScan(documents), n, benchMod)
    // grams are distinct per doc (shingle SET), so count(*) after the semi
    // join IS the distinct-overlap count
    val hits = grams.filter(!col("bench"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_grams"))
    decontaminateReport(flagged, hits)
  }

  /** The shared bench/train gram derivation of both decontamination
    * variants. The split is projected ONCE and every branch derives from
    * this single flagged relation (r5 advice: the flag expression used
    * to be re-stated on an independent `documents` scan). The flag is still
    * EVALUATED per scan — its input is a ~15-byte id string, so recomputing
    * the hash is orders of magnitude cheaper than materializing or joining
    * a flagged copy of a 100 TB corpus to avoid it; Catalyst prunes `text`
    * out of the branches that only need (doc_id, lang, bench). */
  private def benchGramSplit(documents: DataFrame, n: Int, benchMod: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val flagged = documents.select(col("doc_id"), col("lang"), col("text"),
      (pmod(portableHash64(concat(lit("bench:"), col("doc_id").cast("string"))),
        lit(benchMod.toLong)) === 0L).as("bench"))
    // gram currency is the fused 8-byte hash ([[graft.functions.WordGramHashes]]),
    // not the space-joined gram STRING (round-17 optimization): materializing
    // every 5-gram as a string was the CPU sink of both decontamination
    // variants (string concat + UTF8 allocation per gram — measured 0.94 s
    // vs 0.24 s for the hashed corpus pass at sf0.1), and the overlap
    // semantics only needs key EQUALITY. Same collision budget the near-dup
    // path carries (~1e-9 across this corpus; the string-set oracle has
    // hash-matched on every run).
    val grams = flagged
      .select(col("doc_id"), col("bench"),
        explode(array_distinct(
          graft.functions.VectorExpressions.gramXxHashes(tokens(col("text")), n)))
          .as("g"))
    val benchGrams = grams.filter(col("bench")).select(col("g")).distinct()
    (flagged, grams, benchGrams)
  }

  /** Shared output shape of the decontamination variants: every
    * non-benchmark document, its hit count, and the flag. */
  private def decontaminateReport(flagged: DataFrame,
                                  hits: DataFrame): DataFrame =
    flagged
      .filter(!col("bench"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0L).as("contaminated"))

  /** [[decontaminate]] with a BLOOM-SKETCH pre-filter — the variant for
    * when the benchmark gram set outgrows a string broadcast (a Llama-2
    * style decontamination list runs ~10⁸ grams ≈ tens of GB of strings;
    * a 2%-fpp Bloom filter over the same set is ~100 MB of bits). Exactly
    * Spark's own runtime row-level-filtering pattern, assembled
    * explicitly:
    *
    *   1. one narrow agg over the BENCH side builds a Bloom filter of the
    *      benchmark grams' xxhash64 keys (`BloomFilterAggregate` —
    *      mergeable partials, bounded driver artifact);
    *   2. the corpus gram stream drops every gram the sketch rejects
    *      MAP-SIDE (`BloomFilterMightContain` is codegen'd bit probing;
    *      no shuffle, no broadcast of gram strings). Bloom filters have
    *      no false negatives, so no truly-contaminated gram is lost;
    *   3. the sliver of survivors — true hits plus the fpp share — is
    *      resolved EXACTLY by the semi join on the gram string. The join
    *      carries NO broadcast hint: its probe side is now hit-scale, so
    *      Spark's stats/AQE gate picks BHJ when the bench set fits and
    *      degrades to a shuffle join when it doesn't (the round-8
    *      verdict-#3 discipline), instead of OOMing on a forced hint.
    *
    * Output is bit-identical to [[decontaminate]] (the oracle is shared):
    * the sketch only prunes work, never changes the answer. At 100 TB the
    * corpus is touched once, map-side, and only hit grams ever shuffle.
    */
  def decontaminateBloom(documents: DataFrame, n: Int = 5,
                         benchMod: Int = 10,
                         expectedItems: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (flagged, grams, benchGrams) = benchGramSplit(spreadScan(documents), n, benchMod)
    // `g` is already the fused 64-bit gram hash — feed it to the Bloom
    // aggregate directly (BloomFilterAggregate hashes its long input
    // internally; one less xxhash64 per gram)
    def gramHash = ColumnBridge.expression(col("g"))
    val bfAgg = ColumnBridge.column(
      new BloomFilterAggregate(gramHash, Literal(expectedItems),
        Literal(expectedItems * 8L)).toAggregateExpression())
    val bf: Array[Byte] =
      benchGrams.agg(bfAgg.as("bf")).first().getAs[Array[Byte]]("bf")
    // Empty-bench guard (the incrementalDedup day-zero lesson):
    // BloomFilterAggregate over zero rows returns NULL and
    // might_contain(NULL, h) is NULL — the filter would silently drop
    // every corpus gram and report a clean corpus by accident instead of
    // by construction. Zero bench grams means zero possible hits.
    val hits =
      if (bf == null)
        flagged.filter(!col("bench")).limit(0)
          .select(col("doc_id"), lit(0L).as("n_hit_grams"))
      else {
        val mightContain = ColumnBridge.column(
          BloomFilterMightContain(
            Literal(bf, org.apache.spark.sql.types.BinaryType), gramHash))
        grams.filter(!col("bench"))
          .filter(mightContain)
          .join(benchGrams, Seq("g"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_hit_grams"))
      }
    decontaminateReport(flagged, hits)
  }

  // ---------------------------------------------- global training order

  /** Deterministic global shuffle order — the "shuffle the corpus before
    * training" step, as a total position over a content-stable pseudorandom
    * key (`portableHash64("shuffle:"+doc_id)`), WITHOUT the single-partition
    * global window a naive `row_number() OVER (ORDER BY key)` plans.
    *
    * Two-phase global ranking (the classic distributed sort-rank): the
    * 60-bit key space is cut into `buckets` fixed-width ranges by its top
    * bits (bucket boundaries are a pure function of the key — no sampling,
    * so the result is deterministic and re-runnable); phase 1 counts rows
    * per bucket (one tiny agg, ≤ `buckets` rows collected — metadata
    * scale); phase 2 ranks WITHIN each bucket in parallel and adds the
    * bucket's cumulative offset via a broadcast join. Every bucket's rank
    * window runs on its own partition, so the sort parallelism is
    * `buckets`-wide at any corpus size. Ties (60-bit key collisions) break
    * by doc_id; `pos` is 1-based and equals the oracle's global
    * `row_number() OVER (ORDER BY shuffle_key, doc_id)`.
    */
  def globalShuffleOrder(documents: DataFrame, buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val shift = 60 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val keyed = documents.select(col("doc_id"),
      portableHash64(concat(lit("shuffle:"), col("doc_id").cast("string")))
        .as("shuffle_key"))
      // keys are non-negative 60-bit, so arithmetic shift == unsigned
      .withColumn("bucket", shiftright(col("shuffle_key"), shift))
    val counts = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.toSeq.map { case (b, cnt) =>
      val o = (b, acc); acc += cnt; o
    }
    val spark = documents.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("bucket", "offset")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    keyed.join(broadcast(offDf), Seq("bucket"))
      .withColumn("pos", col("offset") + row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shuffle_key"), col("pos"))
  }

  // ------------------------------------------------- incremental dedup

  /** The deterministic "new ingest batch" fixture for [[incrementalDedup]]:
    * one slice of the corpus re-ingested verbatim under fresh ids (exact
    * duplicates the dedup must drop) and one slice with a content revision
    * suffix (genuinely new text the dedup must keep). Modulo slices, so the
    * fixture is non-vacuous at every scale factor; fresh ids are
    * `doc_id + max(doc_id) + 1` (collision-free, same AUTO-offset
    * technique as [[Similarity.plantNearDups]]).
    */
  def plantIngestBatch(documents: DataFrame, mod: Int = 10): DataFrame = {
    val maxId = Option(documents.agg(max(col("doc_id"))).first().get(0))
    require(maxId.nonEmpty, "plantIngestBatch: corpus must be non-empty " +
      "(max(doc_id) of zero rows is NULL, so no collision-free id offset exists)")
    val offset = maxId.get.asInstanceOf[Long] + 1L
    val base = documents.select(col("doc_id"), col("text"), col("lang"),
      col("n_chars"))
    val dups = base.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select((col("doc_id") + offset).as("doc_id"), col("text"), col("lang"),
        col("n_chars"))
    val fresh = base.filter(pmod(col("doc_id"), lit(mod)) === 1)
      .select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" [rev2]")).as("text"), col("lang"),
        (col("n_chars") + 7L).as("n_chars"))
    dups.unionByName(fresh)
  }

  /** Incremental exact dedup — the ingest-time question "which of these new
    * documents does the corpus already contain?", answered WITHOUT shuffling
    * the corpus against the batch: a Bloom filter over the corpus's content
    * hashes (Spark's own `BloomFilterAggregate` — one narrow pass,
    * mergeable partials) routes each new document down one of two paths:
    *
    *   - might-contain = false → DEFINITELY new (Bloom has no false
    *     negatives): kept with no join at all. At 100 TB this is the
    *     overwhelming majority of a typical batch, so the expensive path
    *     below sees only a sliver.
    *   - might-contain = true → a true duplicate or a false positive: the
    *     sliver is resolved EXACTLY by an anti join against the corpus.
    *
    * The result is therefore exact (identical to a plain anti join — the
    * oracle IS the plain anti join); the Bloom filter only prunes work.
    * The built filter is a byte-array literal in the plan (here ~1 MB; the
    * same pattern Spark's runtime row-level filtering materializes via a
    * scalar subquery), and the anti join broadcasts nothing of the corpus
    * to the happy path.
    */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
                       expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def textHash = ColumnBridge.expression(xxhash64(col("text")))
    val bfAgg = ColumnBridge.column(
      new BloomFilterAggregate(textHash, Literal(expectedItems),
        Literal(expectedItems * 8L)).toAggregateExpression())
    val bf: Array[Byte] =
      corpus.agg(bfAgg.as("bf")).first().getAs[Array[Byte]]("bf")
    val out = Seq("doc_id", "lang", "n_chars")
    // Day-zero guard (r5 advice, medium): BloomFilterAggregate over ZERO
    // corpus rows returns NULL, and might_contain(NULL, h) is NULL — so both
    // the happy-path filter and its negation would silently discard the
    // whole batch. An empty corpus means every document is definitely new.
    if (bf == null) return newBatch.select(out.map(col): _*)
    val mightContain = ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bf, org.apache.spark.sql.types.BinaryType), textHash))
    val definitelyNew = newBatch.filter(!mightContain)
    val needVerify = newBatch.filter(mightContain)
      .join(corpus.select(col("text")), Seq("text"), "left_anti")
    definitelyNew.select(out.map(col): _*)
      .unionByName(needVerify.select(out.map(col): _*))
  }

  // ----------------------------------------------- n-gram novelty

  /** Order-aware n-gram NOVELTY — the curation signal "how much of this
    * document is text the corpus hadn't produced yet": the fraction of a
    * document's DISTINCT word-5-gram set whose FIRST occurrence (minimum
    * doc_id over all docs containing it) is this document. Complements
    * [[dupSpanRatio]] (presence-based, order-free) with the
    * ingest-order-aware view a dedup-aware curator ranks by: boilerplate
    * that floods in later scores near 0, the first copy keeps scoring 1.
    *
    * Shape: the same hashed-shingle explode as every gram operator (8-byte
    * keys in all shuffles), first occurrence as a gram-keyed window min
    * (one pass, no join-back), one doc-keyed agg — candidates linear in corpus
    * grams, no pairs anywhere. Gram-free documents (shorter than n tokens)
    * define novelty 1.0 — nothing they say is redundant.
    */
  def ngramNovelty(documents: DataFrame, n: Int = 5): DataFrame = {
    val perDoc = shingleSets(documents, n)
      .select(col("doc_id"), explode(col("sh")).as("gk"))
    // first-occurrence as a WINDOW over gk (round-17, the blockDedup
    // reshape): min(doc_id) per gram in one pass over one gk-keyed
    // exchange instead of agg + join-back, which recomputed the shingle
    // explode once per reference. Inner join matched every row (each gram
    // has a min), so row coverage is identical.
    val agg = perDoc
      .withColumn("first_doc", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("gk"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    documents.select(col("doc_id")).join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(1.0))
          .otherwise(roundFixed(
            col("n_novel").cast("double") / col("n_grams"), 6))
          .as("novelty"))
  }

  // ----------------------------------------------- block-level dedup

  /** Sub-document (block-level) deduplication — the C4/RefinedWeb-style
    * pass that REWRITES documents instead of dropping them: the token
    * stream is cut into fixed non-overlapping `blockSize`-token blocks
    * (last block may be short), and every block keeps only its FIRST
    * corpus-wide occurrence (minimum (doc_id, block_idx), so a block
    * repeated within one document also collapses to its first position).
    * Surviving blocks are reassembled in document order. Complements
    * [[exactDedup]] (whole-document granularity) and [[dupSpanRatio]]
    * (signal only, no rewrite) — this is the operator that actually
    * removes boilerplate from otherwise-unique pages.
    *
    * Shape: one posexplode (N·tokens/blockSize rows), one hash agg taking
    * the lexicographic min-(doc_id, idx) struct per block key, one
    * equi-join back (see the in-code A/B note: the window reshape loses
    * here because the rows carry block strings), one doc-keyed agg to
    * reassemble — candidates linear in corpus blocks, no pairs. Per-doc
    * collect_list is
    * bounded by document length (the [[packGreedy]] discipline). At
    * 100 TB the block key would drop to xxhash64 (8-byte shuffle key,
    * same plan); sha-prefix keeps the oracle able to recompute it.
    */
  def blockDedup(documents0: DataFrame, blockSize: Int = 16): DataFrame = {
    val documents = spreadScan(documents0)
    val toked = documents.select(col("doc_id"), tokens(col("text")).as("toks"))
    // toks is a MATERIALIZED column here, so the lambda's slice reads an
    // attribute (no per-element re-tokenization — the positionalShingles
    // trap)
    val blocks = toked.select(col("doc_id"),
      when(size(col("toks")) > 0,
        transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / lit(blockSize)).cast("int")),
          i => concat_ws(" ",
            slice(col("toks"), i * blockSize + lit(1), lit(blockSize)))))
        .otherwise(array().cast("array<string>")).as("blocks"))
    val b = blocks
      .select(col("doc_id"), posexplode(col("blocks")).as(Seq("idx", "block")))
      .withColumn("k", portableHash64(col("block")))
    // agg + join-back, NOT the window reshape its gram siblings got in
    // round 17 (ngramNovelty/dupSpanRatio: key-partitioned window, one
    // pass). A/B'd both ways in one JVM at sf0.1: window 2.38 s vs
    // join-back 1.99 s, outputs identical. The asymmetry is row WIDTH:
    // the siblings' window rows are 8-byte gram keys, while every
    // blockDedup row carries the block STRING (the output needs it), so
    // the WindowExec sort drags the payload through while the min-agg
    // collapses map-side to one slim (k, f) row per key before its
    // exchange. Double block-build CPU is the cheaper side here.
    val first = b.groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    val kept = b.join(first, Seq("k"))
      .withColumn("keep",
        col("doc_id") === col("f.doc_id") && col("idx") === col("f.idx"))
    val agg = kept.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("block"))))),
          s => s.getField("block"))).as("dedup_text"))
    documents.select(col("doc_id")).join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  // --------------------------------------------- sequence chunking

  /** Long-document CHUNKING for context-window-bounded training: the token
    * stream is cut into `window`-token chunks every `stride` tokens
    * (stride < window ⇒ overlapping chunks, the standard long-doc recipe
    * so no boundary context is lost). The inverse-direction sibling of
    * [[packGreedy]] (pack joins SHORT docs up to the budget; this splits
    * LONG docs down to it). Empty documents produce no chunks. Pure
    * narrow explode — `sequence` is bounded by the document's own length,
    * no shuffle, no state.
    */
  def chunkDocuments(documents: DataFrame, window: Int = 64,
                     stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toked = documents.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    // chunk count: 1 + ceil(max(0, n - window) / stride) for n > 0
    val nChunks = when(col("n") === 0, lit(0)).otherwise(
      lit(1) + ceil((greatest(col("n") - window, lit(0)))
        .cast("double") / stride).cast("int"))
    toked
      .withColumn("chunk_idx",
        explode(when(nChunks > 0, sequence(lit(0), nChunks - 1))
          .otherwise(array().cast("array<int>"))))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(window), col("n") - col("start_tok")).cast("long")
          .as("chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("start_tok") + lit(1),
          lit(window))).as("chunk_text"))
  }

  // --------------------------- content-defined chunking (FastCDC-style)

  // Rolling-hash chunking parameters, shared VERBATIM with the DuckDB
  // oracle: a 16-char windowed polynomial hash (base 33 mod 1000003 — the
  // window is what makes boundaries CONTENT-defined: an edit shifts only
  // the cuts within one window of it, unlike fixed-size chunking where
  // one insertion re-frames the whole tail), cut when hash ≡ 63 (mod 64)
  // and the chunk has ≥16 chars, forced cut at 256 (FastCDC's min/max
  // discipline). Expected chunk ≈ 64+16 chars at these doc lengths.
  private val cdcPrime = 1000003L
  private val cdcWindow = 16
  private val cdcMin = 16
  private val cdcMax = 256
  private val cdcMask = 64
  private[graft] val cdcPows: Array[Long] = {
    var p = 1L
    Array.fill(cdcWindow) { val r = p; p = p * 33 % cdcPrime; r }
  }

  /** Per-document CDC boundary machinery: returns (doc_id, text, n,
    * bounds) where `bounds` is the ascending list of 1-based inclusive
    * chunk end positions (the final position n always closes the last
    * chunk). The boundary scan is the NATIVE codegen'd
    * [[graft.functions.CdcBounds]] expression — one O(n) primitive loop
    * per document. Null/empty documents produce no row — mirrored in
    * the oracle's WHERE. */
  private[graft] def withCdcBounds(documents: DataFrame): DataFrame =
    documents
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .withColumn("bounds",
        graft.functions.VectorExpressions.cdcBoundsNative(col("text"),
          cdcWindow, cdcMin, cdcMax, cdcMask, cdcPrime, cdcPows.toSeq))

  /** The declarative-HOF form of the boundary scan, kept as the parity
    * witness for the native kernel (VectorExpressionsSpec asserts
    * bit-identical bounds on real and adversarial texts) and as the
    * record of TWO performance traps it hit:
    *  1. an outer array referenced inside a lambda body is INLINED by
    *     CollapseProject and re-evaluated PER ELEMENT (`element_at(codes,
    *     i - j)` re-ran the O(n) char transform for each of the 16·n
    *     window terms — O(n³) per document, minutes on 500 rows); the zip
    *     of 16 SHIFTED SLICES fixes that ([[positionalShingles]] lesson);
    *  2. `substr(i, 1)` walks the UTF8String head per call (O(i) per
    *     character, O(n²) per document) — `split(text, "")` is one O(n)
    *     pass;
    * and even with both fixed, the interpreted HOF pipeline costs ~6 ms
    * per document in struct/boxing overhead — ~1000× the native loop.
    * Positions 1..15 can never cut (min chunk 16 > any reachable
    * forced-cut distance), so the fold runs over window END positions
    * 16..n only — same cuts, 15 fewer elements. */
  private[graft] def withCdcBoundsHof(documents: DataFrame): DataFrame = {
    // chars via ONE split, not substr-per-position: UTF8String.substring
    // walks from the string head, so `substr(i, 1)` inside a transform is
    // O(i) per character — O(n²) per document, an 85× 10×-slope in the
    // first draft (SCALE.md r8 note); split("") is a single O(n) pass
    val codes = documents
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .withColumn("codes", transform(split(col("text"), ""), c => ascii(c)))
    // zipped[k] (0-based k): chars at positions k+1 .. k+16, i.e. the
    // window ENDING at i = k+16; field m holds code(k+1+m), whose
    // weight in the original Σ_j code(i−j)·pow(j) form is pow(15−m)
    val shifted = (0 until cdcWindow).map(j =>
      slice(col("codes"), lit(j + 1), col("n") - (cdcWindow - 1)))
    val elems = when(col("n") >= cdcWindow,
      transform(arrays_zip(shifted: _*), (s, idx) =>
        struct((idx + cdcWindow).cast("int").as("i"),
          ((0 until cdcWindow).map(m =>
            s.getField(m.toString).cast("long") *
              lit(cdcPows(cdcWindow - 1 - m))).reduce(_ + _)
            % cdcPrime % cdcMask === cdcMask - 1).as("ok"))))
      .otherwise(array().cast("array<struct<i:int,ok:boolean>>"))
    val folded = aggregate(elems,
      struct(lit(0).as("last"), array().cast("array<int>").as("cuts")),
      (acc, x) => when(
        (x("ok") && x("i") - acc("last") >= cdcMin) ||
          (x("i") - acc("last") >= cdcMax),
        struct(x("i").as("last"),
          concat(acc("cuts"), array(x("i"))).as("cuts")))
        .otherwise(acc))
    codes
      .withColumn("folded", folded)
      .withColumn("bounds",
        when(col("folded.last") === col("n"), col("folded.cuts"))
          .otherwise(concat(col("folded.cuts"), array(col("n")))))
      .drop("codes", "folded")
  }

  /** CONTENT-DEFINED chunking stats per document: chunk count, longest
    * chunk, and the interior-cut checksum. Narrow per-row HOFs end to
    * end — no shuffle, no state; at 100 TB this is a pure map over the
    * corpus scan. */
  def cdcChunkStats(documents: DataFrame): DataFrame =
    withCdcBounds(documents).select(
      col("doc_id"),
      size(col("bounds")).cast("long").as("n_chunks"),
      array_max(transform(col("bounds"), (b, idx) =>
        b - when(idx === 0, lit(0)).otherwise(element_at(col("bounds"), idx))))
        .cast("long").as("max_chunk_len"),
      (aggregate(col("bounds"), lit(0L), (s, b) => s + b) -
        element_at(col("bounds"), -1)).as("cut_sum"))

  /** Corpus-level CDC chunk DEDUP: explode every document into its
    * content-defined chunks and measure repetition — total vs distinct
    * chunks, the hottest chunk's multiplicity, and the byte volume a
    * chunk-level dedup store would save (sum over chunks of
    * (copies−1)·len). The scale shape: grouping keys are the chunk
    * CONTENTS (bounded ≤ 256 chars by cdcMax — at 100 TB group by
    * [[portableHash64]] of the chunk instead so the shuffle carries
    * 8-byte keys; contents-vs-hash is count-identical short of a 2^-60
    * collision); one hash aggregation, no pairs, no windows. */
  def cdcDedup(documents: DataFrame): DataFrame =
    withCdcBounds(documents)
      .select(explode(transform(col("bounds"), (b, idx) =>
        col("text").substr(
          when(idx === 0, lit(0)).otherwise(element_at(col("bounds"), idx)) + 1,
          b - when(idx === 0, lit(0)).otherwise(element_at(col("bounds"), idx)))))
        .as("chunk"))
      .groupBy(col("chunk")).agg(count(lit(1)).as("cnt"))
      .agg(
        sum(col("cnt")).as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        max(col("cnt")).as("max_dup"),
        sum((col("cnt") - 1) * length(col("chunk"))).as("dup_bytes"))

  // ------------------------------- edit-distance (typo) similarity join

  /** Fuzzy string join over the corpus VOCABULARY: word pairs within
    * Levenshtein distance `k` — the spell-correction / entity-variant
    * detection shape (q-gram count filtering, Gravano et al., "Approximate
    * String Joins in a Database (Almost) for Free", VLDB 2001). Output is
    * (w_a, w_b, dist, cnt_a, cnt_b), w_a < w_b, with corpus occurrence
    * counts.
    *
    * Completeness (the oracle is the BRUTE-FORCE join, so the candidate
    * set must provably lose nothing): strings within edit distance k
    * share ≥ max(n1,n2) − (q−1) − q·k positional q-grams as a MULTISET
    * (each edit destroys at most q grams). Two legs:
    *  - LONG leg (max(n1,n2) ≥ `longCut` = q·k + q + 1 + 1): the bound is
    *    ≥ 2 > 0, so the q-gram inverted-index equi-join with an occurrence
    *    index (multiset semantics via row_number per (word, gram)) plus
    *    the count filter is lossless.
    *  - SHORT leg (both ≤ longCut − 1): the bound can hit 0 where a true
    *    pair shares NO gram ("abc"/"xbz"), so short words pair via a
    *    length-bucketed equi-join (|len diff| ≤ k, implied by distance k)
    *    — the ≤(longCut−1)-char vocabulary is alphabet-bounded, a
    *    constant-ish set at any corpus scale, and the bucket key keeps it
    *    an equi-join (no cartesian node).
    * Legs are disjoint by the max-length split; both verify with the
    * exact `levenshtein`. Everything is vocab-scale — the corpus
    * contributes one explode + hash agg, then pair work never touches
    * documents again. */
  def typoPairs(documents: DataFrame, k: Int = 2, q: Int = 2,
                minLen: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val longCut = q * k + q + 2
    val vocab = documents
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("w")) >= minLen)
      .withColumn("n", length(col("w")))

    // SHORT leg: length-bucketed self-join. The left side emits its word
    // under every bucket n..n+k; the right stays at its own length, so a
    // pair with n_a < n_b matches exactly once (at bucket n_b) and equal
    // lengths dedupe on the lexical tie-break.
    val short = vocab.filter(col("n") < longCut)
    val shortA = short.select(col("w").as("w_a"), col("n").as("n_a"),
      explode(sequence(col("n"), col("n") + k)).as("bucket"))
    val shortB = short.select(col("w").as("w_b"), col("n").as("n_b"),
      col("n").as("bucket"))
    val shortPairs = shortA.join(shortB, Seq("bucket"))
      .filter(col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("w_a") < col("w_b")))
      .select(col("w_a"), col("w_b"))

    // LONG leg: positional q-grams with an occurrence index — joining on
    // (gram, occ) counts min(multiplicities), i.e. the multiset
    // intersection the bound speaks about.
    val grams = vocab.filter(col("n") >= minLen)
      .select(col("w"), col("n"),
        posexplode(transform(sequence(lit(1), col("n") - (q - 1)),
          i => col("w").substr(i, lit(q)))).as(Seq("pos", "gram")))
      .withColumn("occ", row_number().over(
        Window.partitionBy(col("w"), col("gram")).orderBy(col("pos"))))
      .select(col("w"), col("n"), col("gram"), col("occ"))
    val longPairs = grams.select(col("w").as("w_a"), col("n").as("n_a"),
        col("gram"), col("occ"))
      .join(grams.select(col("w").as("w_b"), col("n").as("n_b"),
        col("gram"), col("occ")), Seq("gram", "occ"))
      .filter(col("w_a") < col("w_b") &&
        greatest(col("n_a"), col("n_b")) >= longCut &&
        abs(col("n_a") - col("n_b")) <= k)
      .groupBy(col("w_a"), col("w_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >=
        greatest(col("n_a"), col("n_b")) - (q - 1) - q * k)
      .select(col("w_a"), col("w_b"))

    val counts = vocab.select(col("w"), col("cnt"))
    shortPairs.unionByName(longPairs)
      .withColumn("dist", levenshtein(col("w_a"), col("w_b")))
      .filter(col("dist") <= k)
      .join(counts.withColumnRenamed("w", "w_a")
        .withColumnRenamed("cnt", "cnt_a"), Seq("w_a"))
      .join(counts.withColumnRenamed("w", "w_b")
        .withColumnRenamed("cnt", "cnt_b"), Seq("w_b"))
      .select(col("w_a"), col("w_b"), col("dist"),
        col("cnt_a"), col("cnt_b"))
  }

  // ------------------ model-based quality filtering (trained classifier)

  // Hyperparameters of the trained quality filter, shared VERBATIM with
  // the DuckDB oracle (the oracle unrolls the same iteration count with
  // the same learning rate). The label threshold is the sf0.01 corpus's
  // median heuristic quality — classes are ~balanced, so accuracy is a
  // meaningful training signal (majority baseline ≈ 0.50).
  private[graft] val qmIters = 16
  private[graft] val qmLr = 8.0
  private[graft] val qmLabelCut = 0.413
  private val qmStops = Seq("the", "a", "of")

  /** Feature/label table for the trained quality filter: x1 length
    * sufficiency, x2 lexical diversity, x3 saturating stopword ratio
    * (each in [0,1]), and the planted label y = [heuristic quality >
    * median] — the same composite [[qualityScore]] computes, so the
    * classifier's job is to recover a known linear concept from its own
    * inputs (a controlled, fully-deterministic stand-in for "labels from
    * an LLM judge" in a DCLM/FineWeb-style model-based filter). */
  private def qmFeatures(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        countIn(col("toks"), qmStops).cast("long").as("stop_cnt"))
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"),
        least(lit(1.0), col("n_tokens").cast("double") / lit(128.0)).as("x1"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("x2"),
        least(lit(1.0), lit(5.0) *
          (col("stop_cnt").cast("double") / col("n_tokens").cast("double")))
          .as("x3"))
      .withColumn("y",
        when(lit(0.4) * col("x1") + lit(0.3) * col("x2") +
          lit(0.3) * col("x3") > qmLabelCut, lit(1.0)).otherwise(lit(0.0)))
  }

  /** Rational "fast sigmoid" 0.5 + z/(2(1+|z|)) and its derivative
    * 1/(2(1+|z|)²) — chosen over the logistic exp form because every op
    * (+, −, ×, ÷, abs) is exactly specified by IEEE 754, so Spark (JVM)
    * and DuckDB (C++) produce BIT-IDENTICAL doubles from identical
    * inputs; `exp` carries no such guarantee across libm builds and one
    * ulp at a rounding boundary would flip the oracle hash. */
  private def qmSig(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
  private def qmSigD(z: Column): Column =
    lit(1.0) / (lit(2.0) * (lit(1.0) + abs(z)) * (lit(1.0) + abs(z)))
  private def qmMargin(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")

  /** Trained-model quality filtering — the MODEL-BASED member of the
    * curation family ([[qualityScore]] is hand-tuned heuristics; this
    * TRAINS the weights): full-batch gradient descent on a linear
    * classifier under squared fast-sigmoid loss, run AS AGGREGATION —
    * per iteration one corpus pass computing four decimal-exact partial
    * sums (the gradient), driver state is 4 doubles. That is the
    * treeAggregate shape distributed LR trainers use: at 100 TB each
    * pass is map-side feature extraction + a 32-byte-per-partition
    * combine, the corpus never moves, and `qmIters` sequential jobs
    * amortize over the downstream score-and-filter pass they replace.
    * Every per-row gradient term is quantized to the 1e-6 grid
    * ([[graft.functions.DeterministicAgg.roundFixed]]) before the
    * decimal sum, so partition order cannot perturb the trajectory, and
    * the DuckDB oracle replays the identical unrolled iterations
    * hash-exactly (same discipline as the k-means trainer,
    * Similarity.scala lloyd).
    *
    * Returns one row: corpus size, train accuracy, and the four weights.
    */
  def trainQualityModel(documents: DataFrame): DataFrame = {
    val feats = qmFeatures(documents)
    qmReport(feats, qmTrainedWeights(feats))
  }

  /** Audit form: the same report for already-published weights, with no
    * training pass. */
  def trainQualityModel(documents: DataFrame,
                        published: Array[Double]): DataFrame = {
    require(published != null && published.length == 4,
      "published quality-model weights must be 4 doubles")
    qmReport(qmFeatures(documents), published)
  }

  private def qmReport(feats: DataFrame, w: Array[Double]): DataFrame = {
    val z = qmMargin(w)
    val correct = (qmSig(z) > 0.5) === (col("y") === 1.0)
    feats.agg(
      count(lit(1)).as("n_docs"),
      roundFixed(sum(when(correct, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double"), 6).as("accuracy"),
      roundFixed(max(lit(w(0))), 6).as("w_bias"),
      roundFixed(max(lit(w(1))), 6).as("w_len"),
      roundFixed(max(lit(w(2))), 6).as("w_div"),
      roundFixed(max(lit(w(3))), 6).as("w_stop"))
  }

  /** Train-once entry point (the [[graft.operators.Similarity]]
    * `trainedCodebook` discipline): runs the GD loop ONCE and returns the
    * 4 published weights — a metadata-scale artifact a caller keeps and
    * passes to the weights-consuming
    * [[scoreWithQualityModel]] overload, so the scoring query is a pure
    * map with ZERO training jobs in its plan. At 100 TB this is the
    * train/serve split every model-based curation pipeline has: the 16
    * aggregation passes run once at model-publish time, and every
    * downstream filter pass folds the weights in as literals. */
  def trainedQualityWeights(documents: DataFrame): Array[Double] =
    qmTrainedWeights(qmFeatures(documents))

  /** Score every document with PUBLISHED weights: the filter pass a
    * model-based curation pipeline runs after training — a pure map over
    * the corpus (weights are literals folded into the scan projection;
    * no aggregation, no training jobs). `score` is the fast-sigmoid
    * probability, `pred` the keep decision, `label` the planted ground
    * truth. */
  def scoreWithQualityModel(documents: DataFrame,
                            weights: Array[Double]): DataFrame = {
    val feats = qmFeatures(documents)
    val z = qmMargin(weights)
    feats.select(
      col("doc_id"),
      roundFixed(qmSig(z), 6).as("score"),
      (qmSig(z) > 0.5).as("pred"),
      col("y").as("label"))
  }

  /** Convenience form that trains in-line (`qmIters` eager jobs at
    * plan-build time, one per gradient pass). Prefer [[trainedQualityWeights]] +
    * the weights overload when the same model scores more than once. */
  def scoreWithQualityModel(documents: DataFrame): DataFrame =
    scoreWithQualityModel(documents, trainedQualityWeights(documents))

  /** Reliability (calibration) report of the published quality model —
    * the eval a model-based curation pipeline runs before trusting a
    * filter threshold: scores bucket into `bins` equal-width probability
    * bins; per bin, the mean predicted probability vs the empirical
    * positive rate, and their gap (per-bin |ECE| contribution). A
    * well-calibrated filter has mean_score ≈ pos_rate in every bin —
    * where they diverge, a threshold set on the score misstates the true
    * keep-quality trade.
    *
    * Pure map (published weights are literals) + ONE bins-bounded hash
    * agg — the aggregate state is `bins` cells regardless of corpus size
    * (the DSIR-bucket property). Determinism: scores are already on the
    * 1e-6 grid, the bin edge is an exact float floor both engines share,
    * means are decimal-exact, and the gap derives from the two ROUNDED
    * bin statistics so no unrounded intermediate crosses the engine
    * boundary.
    */
  def qualityCalibration(documents: DataFrame, weights: Array[Double],
                         bins: Int = 10): DataFrame = {
    import graft.functions.DeterministicAgg.avgRounded
    scoreWithQualityModel(documents, weights)
      .withColumn("bin",
        least(lit((bins - 1).toLong), floor(col("score") * bins).cast("long")))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        avgRounded(col("score"), 6).as("mean_score"),
        roundFixed(sum(col("label")).cast("double") /
          count(lit(1)).cast("double"), 6).as("pos_rate"))
      .withColumn("gap",
        roundFixed(abs(col("mean_score") - col("pos_rate")), 6))
  }

  /** The gradient-descent loop itself: `qmIters` aggregation-only corpus
    * passes; weights never touch an RDD. Gradient of the squared
    * fast-sigmoid loss, constant 2 folded into the learning rate. */
  private def qmTrainedWeights(feats: DataFrame): Array[Double] = {
    import graft.functions.DeterministicAgg.wideDecimalLocal
    // every pass reads the same tiny projection (doc_id + 3 feature
    // doubles + label): cache it so the parquet scan and the tokenizing
    // feature extraction run once, not once per pass
    val cached = feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var w = Array(0.0, 0.0, 0.0, 0.0)
      for (_ <- 1 to qmIters) {
        val z = qmMargin(w)
        val com = (qmSig(z) - col("y")) * qmSigD(z)
        // the 1e-6-quantized per-row terms, folded in ONE action as exact
        // decimal(38,10) sums plus a row count: the arithmetic of a SQL
        // sum of the terms cast to decimal, so partition order cannot
        // move a bit, but one job a pass instead of an aggregate's two
        val terms = cached.select(roundFixed(com, 6),
          roundFixed(com * col("x1"), 6), roundFixed(com * col("x2"), 6),
          roundFixed(com * col("x3"), 6))
        val (g, n) = terms.queryExecution.toRdd.treeAggregate(
          (Array.fill(4)(java.math.BigDecimal.ZERO), 0L))((acc, row) => {
            for (j <- 0 until 4 if !row.isNullAt(j))
              acc._1(j) = acc._1(j).add(wideDecimalLocal(row.getDouble(j)))
            (acc._1, acc._2 + 1)
          }, (a, b) => {
            for (j <- 0 until 4) a._1(j) = a._1(j).add(b._1(j))
            (a._1, a._2 + b._2)
          })
        // empty corpus: no gradient, weights stay zero (empty-input
        // degradation — the queries still return their schema)
        if (n == 0L) return w
        w = Array.tabulate(4)(j => w(j) - qmLr * g(j).doubleValue / n)
      }
      w
    } finally cached.unpersist(blocking = false)
  }

  // --------------------------------------------- weighted sampling

  /** Deterministic WEIGHTED sampling without replacement — the
    * Efraimidis–Spirakis A-ES scheme, the quality-weighted cousin of the
    * uniform [[holdoutSample]]: each document draws a pseudorandom
    * u ∈ (0,1] from its id hash and competes on the key −log10(u)/w
    * (monotone-equivalent to the classic u^(1/w): SMALLEST keys win, and a
    * larger weight — here `n_chars`, standing in for any quality score —
    * systematically shrinks the key, raising selection probability
    * exactly as A-ES prescribes). Per-lang top-`perStratum` by
    * (key, doc_id) is the same WindowGroupLimit rank as the uniform
    * holdout — map-side partial top-k per stratum, no global sort; the
    * draw is a pure per-row projection, so re-runs and engine swaps
    * reproduce the identical sample (log10 quantized 1e-6 before the
    * division, key quantized 1e-9 — the cross-engine float discipline).
    */
  def weightedSample(documents: DataFrame,
                     perStratum: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (pmod(portableHash64(
      concat(lit("wsamp:"), col("doc_id").cast("string"))), lit(1000000L))
      .cast("double") + lit(1.0)) / lit(1000000.0)
    val key = roundFixed(
      (lit(0.0) - roundFixed(log10(u), 6)) / col("n_chars").cast("double"), 9)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("sample_key").asc, col("doc_id").asc)
    documents
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("sample_key"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= perStratum)
  }

  // ------------------------------------------------- triangle counting

  /** TRIANGLE counting over the verified near-dup graph — subgraph
    * counting, the third graph-computation class here (pointer-jumping
    * components = reachability, pagerank = value iteration, this =
    * pattern matching). On a dedup graph a triangle is a mutually-
    * similar trio: the strongest cluster-quality signal short of full
    * clique finding, and the building block of clustering coefficients.
    *
    * The standard distributed algorithm: edges ORIENTED a < b (what
    * [[nearDupPairs]] already emits), so each triangle a<b<c is found
    * exactly once as (ab, bc, ac) — two equi-joins, no orientation
    * dedup pass. Cost is Σ over edges of the joined wedge counts; on
    * this graph degrees are bounded by the shingle df-cap, so wedges
    * never explode (at 100 TB the classic refinement — orient by
    * (degree, id) instead of id — caps wedges at O(E^1.5) on ANY
    * degree distribution; id-orientation is kept here because it is
    * what the closed-form oracle can replay). The edge list is
    * localCheckpointed once so the shingle pipeline runs once, not
    * three times ([[pagerankNearDup]]'s discipline).
    *
    * Output: per document, the number of triangles it participates in
    * (documents in no triangle are absent — both engines). */
  def nearDupTriangles(documents: DataFrame, n: Int = 5,
                       threshold: Double = 0.4): DataFrame = {
    val e = nearDupPairs(documents, n, threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true)
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .select(col("ab.a").as("ta"), col("ab.b").as("tb"),
        col("bc.b").as("tc"))
    tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  // ------------------------------------------------- iterative pagerank

  /** PageRank over the verified near-dup graph — the engine's iterative
    * bulk-synchronous graph computation (the [[nearDupClusters]] pointer
    * jumping covers reachability; this covers VALUE iteration): rank flows
    * along [[nearDupPairs]] edges (undirected → both directions), `iters`
    * fixed Jacobi sweeps of r ← (1−d)/N + d·Σ_in r/deg, isolated documents
    * settling at the teleport floor. On the dedup graph the score reads
    * "how central is this document in its duplication neighborhood" — a
    * canonical-pick signal richer than min-id.
    *
    * Each sweep is one contribution join (edge list × current ranks, both
    * keyed by src — at 100 TB both sides pre-bucketed by src, so sweeps
    * co-locate shuffle-free) + one dst-keyed hash agg + one left join back
    * to the node set; the edge list and degrees are localCheckpointed once
    * (built from the pair finder — bounded candidates via the df-cap),
    * so iteration k does not replay the shingle pipeline k times and the
    * plan stays O(iters) deep, not O(iters·pipeline). No driver-side data
    * loop: the driver only strings `iters` plans together.
    *
    * Determinism (cross-engine): contributions and ranks quantize to 1e-9
    * each sweep and the in-sum runs decimal-backed, so DuckDB's unrolled
    * replica reproduces every double bit-for-bit.
    */
  def pagerankNearDup(documents: DataFrame, iters: Int = 3,
                      d: Double = 0.85, n: Int = 5,
                      threshold: Double = 0.4): DataFrame = {
    val pairs = nearDupPairs(documents, n, threshold)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgeDeg = edges.join(deg, Seq("src")).localCheckpoint(false)
    val nodes = documents.select(col("doc_id"))
    val nn = nodes.agg(count(lit(1)).as("n"))
    val invN = lit(1.0) / col("n").cast("double")
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("doc_id"), roundFixed(invN, 9).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edgeDeg
        .join(ranks.select(col("doc_id").as("src"), col("r")), Seq("src"))
        .select(col("dst"),
          roundFixed(col("r") / col("deg").cast("double"), 9).as("c"))
      val inSum = contrib.groupBy(col("dst"))
        .agg(graft.functions.DeterministicAgg.exactSum(col("c")).as("s"))
      ranks = nodes.crossJoin(broadcast(nn))
        .join(inSum.select(col("dst").as("doc_id"), col("s")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), roundFixed(
          lit(1.0 - d) / col("n").cast("double") +
            lit(d) * coalesce(col("s"), lit(0.0)), 9)
          .as("r"))
    }
    ranks.select(col("doc_id"), col("r").as("rank"))
  }

  /** TextRank keyphrase extraction (Mihalcea & Tarau, EMNLP 2004) — the
    * unsupervised keyword tagger a corpus-annotation pipeline runs per
    * document: PageRank over each document's word co-occurrence graph
    * (adjacent-token edges, undirected, self-loops dropped), top-`k` terms
    * by converged rank, recurrence r ← (1−d)/N_doc + d·Σ_in r/deg.
    *
    * Architecture: each document's graph FITS IN ITS OWN ROW (nodes are
    * the doc's distinct terms), so the whole computation — graph build,
    * `iters` rank sweeps, top-k — runs LOCALLY inside one typed flatMap:
    * ZERO shuffles, embarrassingly parallel, per-doc cost O(iters·E_doc).
    * This was first built as (doc_id, term)-keyed BSP sweeps (the
    * [[pagerankNearDup]] shape) and rewritten: BSP is the right shape when
    * the graph SPANS rows (the corpus near-dup graph); paying 5 global
    * sweep-shuffles for millions of independent row-local graphs is pure
    * scheduling overhead (measured 6.4 s → sub-second at sf0.1, identical
    * output). The typed escape hatch, same as [[Similarity.mmrSelect]].
    *
    * Determinism: the local arithmetic replays the engine's cross-engine
    * contract op-for-op — contributions and ranks quantize to the 1e-9
    * grid each sweep, in-sums accumulate as decimal(38,10) (BigDecimal of
    * the double's shortest repr, half-up at scale 10 — exactly Spark's
    * Decimal cast, already proven to match DuckDB by every exactSum
    * oracle), and ties break (rank desc, term asc). The unrolled SQL
    * oracle is shared verbatim with the BSP form it replaced and
    * hash-matches both.
    */
  def textrankKeywords(documents: DataFrame, iters: Int = 5,
                       d: Double = 0.85, k: Int = 3): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    import graft.functions.DeterministicAgg.{roundFixedLocal, utf8Less, wideDecimalLocal}
    def q9(x: Double) = roundFixedLocal(x, 9)
    def q6(x: Double) = roundFixedLocal(x, 6)
    def dec(x: Double) = wideDecimalLocal(x)
    // NULL text would deserialize as a null Seq in the typed flatMap (the
    // explode-based siblings drop such rows implicitly)
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .as[(Long, Seq[String])]
      .flatMap { case (docId, toks) =>
        if (toks.isEmpty) Iterator.empty
        else {
          val terms = toks.distinct.sorted.toArray
          val idx = terms.zipWithIndex.toMap
          val n = terms.length
          val adj = Array.fill(n)(scala.collection.mutable.SortedSet.empty[Int])
          var i = 0
          while (i < toks.length - 1) {
            val a = idx(toks(i)); val b = idx(toks(i + 1))
            if (a != b) { adj(a) += b; adj(b) += a }
            i += 1
          }
          var r = Array.fill(n)(q9(1.0 / n))
          var it = 0
          while (it < iters) {
            val contrib = Array.tabulate(n)(j =>
              if (adj(j).isEmpty) 0.0 else q9(r(j) / adj(j).size))
            val nr = new Array[Double](n)
            var v = 0
            while (v < n) {
              var sum = java.math.BigDecimal.ZERO
              adj(v).foreach(u => sum = sum.add(dec(contrib(u))))
              nr(v) = q9((1.0 - d) / n + d * sum.doubleValue())
              v += 1
            }
            r = nr; it += 1
          }
          // tie-break in UTF-8 BYTE order (DuckDB's and Spark's binary
          // collation), NOT String.compareTo's UTF-16 unit order — exact
          // rank ties are real (the symmetric-leaves fixture) and a
          // supplementary-plane term would flip the two orders
          terms.indices
            .sortWith((a, b) => r(a) > r(b) ||
              (r(a) == r(b) && utf8Less(terms(a), terms(b))))
            .take(k).zipWithIndex
            .map { case (j, rank) => (docId, terms(j), q6(r(j)), rank + 1) }
            .iterator
        }
      }.toDF("doc_id", "keyword", "score", "kw_rank")
  }

  // ------------------------------------------------- keyword retrieval

  /** BM25 keyword retrieval — the lexical complement of the
    * [[Similarity]] ANN family: top-`k` corpus documents per query by the
    * Okapi BM25 score over whitespace terms, as one posting-list
    * EQUI-join. Queries are a deterministic fixture (the first
    * `numQueries` documents' first `qLen` distinct tokens — same
    * self-query convention as the ANN entries, self-matches excluded).
    *
    * Shaped for scale the way a distributed search engine runs BM25:
    *   - ONE full-corpus shuffle total — the (doc, term) tf hash agg; the
    *     per-doc length rides the agg key (it is functionally dependent on
    *     doc_id), so scoring never joins a doc-keyed side table.
    *   - the query×term set (`numQueries·qLen` rows joined to the
    *     vocabulary df — metadata scale) BROADCASTS, so the posting lists
    *     stream map-side through the score join; candidate volume is
    *     Σ df(t) over query terms, bounded by the stopword cut
    *     (`maxDfFrac`: terms in more than that fraction of documents are
    *     dropped, the classic WAND-ish hot-posting prune — an unpruned
    *     stopword would pull in the whole corpus as candidates). The
    *     DEFAULT is 1.0 (no cut) because the synthetic test corpus draws
    *     from a 31-word vocabulary where every term is in >2/3 of the
    *     documents — a natural-language corpus (Zipfian df) would run
    *     with ~0.5, which is what the tiny-corpus spec exercises.
    *   - per-query top-k is a WindowGroupLimit rank (map-side partial
    *     top-k), never a global sort.
    *
    * Determinism (the [[unigramLogProb]] discipline): idf
    * (log10-based) and each term contribution quantize to 1e-6, the
    * per-(query,doc) sum runs decimal-backed, the published score rounds
    * to 1e-4, and the rank orders by (rounded score, doc_id) — every
    * double expression is replayed verbatim by the oracle.
    */
  def bm25SearchTopK(documents: DataFrame, numQueries: Int = 10,
                     qLen: Int = 4, k: Int = 5, k1: Double = 1.2,
                     b: Double = 0.75, maxDfFrac: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qt = documents.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(tokens(col("text")), 1, qLen))).as("term"))
    // The query-term set prunes the posting build ITSELF (round-17): both
    // consumers of the tf relation — the per-term df and the score join —
    // only ever read QUERY-term postings (df(t) counts all docs containing
    // t, which term-pruning other terms cannot change), so the corpus
    // explode keeps ≤ numQueries·qLen terms and the pruned posting list
    // materializes ONCE instead of the full tf relation being recomputed
    // for each consumer. The term list is a ≤ numQueries·qLen-string
    // driver fixture (the collected-codebook discipline). `dl` is computed
    // before the prune, so length normalization sees every token.
    val qTerms = qt.select(col("term")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val base = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .filter(col("term").isin(qTerms: _*))
    val tf = base.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // corpus stats: docs with at least one token (a token-free doc has no
    // postings, so it can neither match nor be a query term source)
    val stats = documents
      .select(size(tokens(col("text"))).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qidf = dfT.join(broadcast(qt), Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(col("df").cast("double") <=
        col("n_docs").cast("double") * lit(maxDfFrac))
      .withColumn("idf", roundFixed(log10(
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)), 6))
      .select(col("term"), col("query_id"), col("idf"),
        col("t_tokens"), col("n_docs"))
    val avgdl = col("t_tokens").cast("double") / col("n_docs").cast("double")
    val contrib = tf.join(broadcast(qidf), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("c", roundFixed(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * (col("dl") / avgdl))), 6))
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(roundFixed(
        graft.functions.DeterministicAgg.exactSum(col("c")), 4).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** Exact PHRASE search over a positional inverted index — the other half
    * of lexical retrieval ([[bm25SearchTopK]] ranks bags of words; real
    * search engines also answer quoted "exact phrase" queries, and the
    * standard index for that is postings with POSITIONS). The phrase is a
    * deterministic fixture derived from the corpus itself: the most
    * frequent word `n`-gram under the (count DESC, gram ASC) tie-break —
    * a 1-row argmax collect (metadata scale, the trainedCodebook
    * discipline), so the query needs no external input and the oracle can
    * re-derive the same phrase.
    *
    * The match itself NEVER rescans text: tokenize → `posexplode` into
    * (doc_id, pos, term) postings, keep only the phrase's terms (a
    * broadcast-able `isin` over ≤ n words — pushed below the shuffle, so
    * posting volume is Σ tf(w_i), not the corpus), then align the n legs
    * with equi-joins on the computed anchor `(doc_id, pos − i)`: a full
    * alignment = one phrase occurrence, overlaps included. Repeated words
    * in the phrase need no special case — each leg filters independently
    * and the anchor join enforces the offsets. At 100 TB this is the
    * textbook positional-index plan: selective-term postings shuffle by
    * (doc, anchor); nothing quadratic, no text rescan, candidate volume
    * bounded by the rarest term's posting list.
    *
    * Result: every document containing the phrase, with its overlapping-
    * occurrence count. The DuckDB oracle is an independent SCAN replica
    * (count positional n-grams equal to the re-derived top gram) — the
    * hash match is the index ≡ scan equivalence proof, the
    * doc_bloom_decontaminate pattern.
    */
  def phraseSearchTopGram(documents: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 2, s"a phrase needs at least 2 words, got $n")
    val toks = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    val grams = toks.select(col("doc_id"),
      explode(positionalShingles(col("t"), n)).as("g"))
    val topRows = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g").asc)
      .limit(1).collect()
    require(topRows.nonEmpty,
      s"phraseSearchTopGram: no document has $n tokens — no phrase exists")
    val top = topRows(0).getString(0)
    val words = top.split(" ")
    val postings = toks
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "term")))
      .filter(col("term").isin(words.distinct.toSeq: _*))
    val legs = words.zipWithIndex.map { case (w, i) =>
      postings.filter(col("term") === w)
        .select(col("doc_id"), (col("pos") - lit(i)).as("anchor"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .select(col("doc_id"), lit(top).as("phrase"), col("n_matches"))
  }

  // ------------------------------------------------- exact quantiles

  /** EXACT per-stratum quantiles of an integer measure (here document
    * length per `lang`) with `percentile_disc` semantics — the smallest
    * value whose cumulative count reaches `ceil(p·N)` — computed WITHOUT a
    * global sort and WITHOUT an O(N)-state sort-based aggregate (what
    * `percentile`/`percentile_disc` plan in Spark): the corpus is first
    * compressed to a (stratum, value) HISTOGRAM by one partial+final hash
    * agg — map-side combine collapses repeated lengths before the only
    * full-data shuffle — and everything after runs on histogram rows.
    * Integer doc lengths are bounded in practice (a handful of context
    * sizes' worth of distinct values), so the histogram is metadata-scale
    * next to a 100 TB corpus; a continuous measure would quantize to fixed
    * buckets first, same plan. The cumulative window partitions by
    * stratum over histogram rows (bounded per-partition state — never the
    * unpartitioned-window / single-partition sort of the naive
    * `row_number() OVER (ORDER BY v)` ranking).
    *
    * Determinism: counts and targets are integer; the only double is
    * `ceil(p·n)`, the identical IEEE expression the oracle evaluates, so
    * no rounding boundary can disagree between engines.
    */
  def lengthQuantiles(documents: DataFrame,
                      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    histQuantiles(documents.select(col("lang"), col("n_chars")),
      "lang", "n_chars", ps)

  /** THE histogram cumulative-pick: exact stratified quantiles of a
    * discrete measure, shared by every quantile consumer ([[lengthQuantiles]],
    * [[pplBuckets]] — r6 verdict #8: one implementation, not re-derived).
    * Build the per-stratum value histogram (metadata-scale next to the
    * corpus — the shuffle carries distinct values, not rows), cumulative-sum
    * it under a stratum-partitioned window (bounded per-partition state,
    * never the single-partition global sort of a naive
    * `row_number() OVER (ORDER BY v)`), and for each p emit the smallest
    * value whose cumulative count reaches `ceil(p·n)` — the inclusive
    * type-1 quantile, integer-exact end to end (the only double is
    * `ceil(p·n)`, the identical IEEE expression the oracle evaluates).
    * Output: (stratumCol, p, q).
    */
  private[graft] def histQuantiles(rows: DataFrame, stratumCol: String,
                                   valueCol: String,
                                   ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = rows
      .groupBy(col(stratumCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    val totals = hist.groupBy(col(stratumCol)).agg(sum(col("cnt")).as("n"))
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(totals), Seq(stratumCol))
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("cum") >= ceil(col("p") * col("n")))
      .groupBy(col(stratumCol), col("p"))
      .agg(min(col(valueCol)).as("q"))
  }

  // ---------------------------------------------- suffix array (prefix doubling)

  /** Corpus totals the [[seedRanks]] pass collects: positions, sentinels
    * (one per document), the longest document in positions (sentinel
    * included), and the positions in runs of at least two equal keys
    * (the first round's contested rows). */
  private case class SeedTotals(rows: Long, sentinels: Long, maxLen: Long, tied: Long)

  /** Contested rows of [[suffixRanks]] (positions whose tie group holds
    * at least two rows) as primitive columns: doc_id, pos, document
    * length in positions, and the group's bucket-start rank r. */
  private[graft] final case class Tied(doc: Array[Long], pos: Array[Long],
                                       len: Array[Long], r: Array[Long]) {
    def size: Int = r.length
  }

  private def concatTied(ts: Seq[Tied]): Tied = Tied(Array.concat(ts.map(_.doc): _*),
    Array.concat(ts.map(_.pos): _*), Array.concat(ts.map(_.len): _*),
    Array.concat(ts.map(_.r): _*))

  /** Appends [[Tied]] rows column by column. */
  private final class TiedBuf {
    private val cols = Array.fill(4)(new scala.collection.mutable.ArrayBuilder.ofLong)
    def add(d: Long, p: Long, l: Long, r: Long): Unit = {
      cols(0) += d; cols(1) += p; cols(2) += l; cols(3) += r
    }
    def result(): Tied = Tied(cols(0).result(), cols(1).result(),
      cols(2).result(), cols(3).result())
  }

  /** The most contested rows the full resolve of [[suffixRanks]] takes.
    * At sf0.01 the first round has 1,733 of 27,665 positions, at sf0.1
    * 17,849 of 275,704; past the gate the contested rows are never
    * collected and doubling rounds shrink them first. With kMax ≤ 16
    * this bounds the broadcast partner keys at 1.6M. */
  private val resolveGate = 100000L

  /** The seed pass of [[suffixRanks]]: sorted runs of `key` over
    * `positions` (key, doc_id, pos, len), without the single-partition
    * window a global row number plans. Range-partition by the key into
    * the session's shuffle partitions (equal keys share a partition, so
    * runs never span partitions; an explicit count, which adaptive
    * execution does not coalesce, so the sort runs on every core), sort
    * within partitions and checkpoint, then one job collects the P
    * per-partition [[SeedTotals]] and, while the corpus holds fewer than
    * [[resolveGate]] of them, the rows in runs of at least two with their
    * partition-local run start; the partition offsets turn that start
    * into the bucket-start rank. A last pass emits every position with
    * r = 1 + the rows of a smaller key and gs = the size of its run of
    * equal keys. A run is buffered while it is counted, so a task holds
    * at most the largest run. Keys compare in their binary row form, the
    * equality Spark's own grouping uses. Output: (doc_id, pos, len, r, gs)
    * as longs — a pure function of the data, never of the partitioning —
    * still to be materialized, the totals, and the contested rows. */
  private def seedRanks(positions: DataFrame): (DataFrame, SeedTotals, Option[Tied]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = positions.sparkSession
    val sorted = positions.select(col("key"), col("doc_id"), col("pos"), col("len"))
      .repartitionByRange(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("key"))
      .sortWithinPartitions(col("key"))
      .localCheckpoint(false)
    val rows = sorted.queryExecution.toRdd
    val gate = resolveGate
    val perPart = rows
      .mapPartitionsWithIndex { (pid, it) =>
        var n, sentinels, maxLen, tied, start = 0L
        var prev: InternalRow = null
        val run = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var out = new TiedBuf
        def close(): Unit = if (run.size > 1) {
          tied += run.size
          if (tied >= gate) out = null
          if (out != null) run.foreach { case (d, p, l) => out.add(d, p, l, start) }
        }
        it.foreach { r =>
          val k = r.getStruct(0, 2)
          if (prev == null || k != prev) {
            close(); run.clear(); start = n; prev = k.copy()
          }
          val len = r.getLong(3)
          run += ((r.getLong(1), r.getLong(2), len))
          n += 1
          if (r.getLong(2) == len - 1) sentinels += 1
          maxLen = math.max(maxLen, len)
        }
        close()
        Iterator((pid, SeedTotals(n, sentinels, maxLen, tied), Option(out).map(_.result())))
      }
      .collect().sortBy(_._1)
    val totals = perPart.map(_._2).foldLeft(SeedTotals(0L, 0L, 0L, 0L)) { (a, b) =>
      SeedTotals(a.rows + b.rows, a.sentinels + b.sentinels,
        math.max(a.maxLen, b.maxLen), a.tied + b.tied)
    }
    val offs = perPart.map(_._2.rows).scanLeft(0L)(_ + _)
    val tied =
      if (totals.tied >= gate) None
      else Some(concatTied(perPart.toSeq.map { case (pid, _, t) =>
        t.get.copy(r = t.get.r.map(offs(pid) + _ + 1)) }))
    val ranked = rows.mapPartitionsWithIndex { (pid, it) =>
      val in = it.buffered
      var n = offs(pid)
      Iterator.continually(()).takeWhile(_ => in.hasNext).flatMap { _ =>
        val k = in.head.getStruct(0, 2).copy()
        val r = n + 1
        val run = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        while (in.hasNext && in.head.getStruct(0, 2) == k) {
          val x = in.next()
          run += ((x.getLong(1), x.getLong(2), x.getLong(3)))
        }
        n += run.size
        run.iterator.map { case (d, p, l) => Row(d, p, l, r, run.size.toLong) }
      }
    }
    val base = spark.createDataFrame(ranked, StructType(
        Seq("doc_id", "pos", "len", "r", "gs").map(StructField(_, LongType, nullable = false))))
      .localCheckpoint(false)
    (base, totals, tied)
  }

  /** The contested rows (gs > 1) of a doubling round's (doc_id, pos, len,
    * r, gs) relation and their count, in one job that also materializes
    * the round's checkpoint; the rows only while fewer than
    * [[resolveGate]]. */
  private def roundTied(live: DataFrame): (Long, Option[Tied]) = {
    val gate = resolveGate
    val perPart = live.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      val out = new TiedBuf
      it.foreach { x =>
        if (x.getLong(4) > 1L) {
          n += 1
          if (n < gate) out.add(x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))
        }
      }
      Iterator((n, out.result()))
    }.collect()
    val n = perPart.map(_._1).sum
    (n, if (n < gate) Some(concatTied(perPart.toSeq.map(_._2))) else None)
  }

  /** The full resolve of [[suffixRanks]] as a pure function: the final
    * rank of each contested row. A tie group (equal r) sorts by the
    * composite of the ranks at pos + k·step for k = 1..kMax, `rankAt`
    * giving each partner's current rank; a partner at or past the end of
    * the document counts as 0, below every rank. Row i of the group in
    * that order takes rank r + i. Sentinels make every composite in a
    * group distinct, so a tie breaks an invariant and throws. */
  private[graft] def resolveTies(t: Tied, step: Long, kMax: Int,
                                 rankAt: (Long, Long) => Long): Array[Long] = {
    val keys = Array.tabulate(t.size) { i =>
      Array.tabulate(kMax) { j =>
        val p = t.pos(i) + (j + 1) * step
        if (p < t.len(i)) rankAt(t.doc(i), p) else 0L
      }
    }
    val order = Array.range(0, t.size).sortWith { (a, b) =>
      if (t.r(a) != t.r(b)) t.r(a) < t.r(b)
      else java.util.Arrays.compare(keys(a), keys(b)) < 0
    }
    val out = new Array[Long](t.size)
    var i = 0
    while (i < order.length) {
      val g = t.r(order(i))
      var j = 0
      while (i + j < order.length && t.r(order(i + j)) == g) {
        if (j > 0 && java.util.Arrays.equals(keys(order(i + j)), keys(order(i + j - 1))))
          throw new IllegalStateException("suffixRanks full-resolve invariant " +
            s"violated: composite key tie within rank group $g — duplicate " +
            "final ranks would result")
        out(order(i + j)) = g + j
        j += 1
      }
      i += j
    }
    out
  }

  /** Distinct (doc_id, pos) keys, sorted, in two primitive arrays. */
  private final class PosKeys(val doc: Array[Long], val pos: Array[Long])
      extends Serializable {
    /** The index of (d, p), or -1. */
    def indexOf(d: Long, p: Long): Int = {
      var lo = 0
      var hi = doc.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = if (doc(mid) != d) java.lang.Long.compare(doc(mid), d)
                else java.lang.Long.compare(pos(mid), p)
        if (c == 0) return mid
        if (c < 0) lo = mid + 1 else hi = mid - 1
      }
      -1
    }
  }

  /** The full resolve of [[suffixRanks]] on the driver: broadcast the
    * contested rows' partner keys, collect their ranks from `lookup`
    * (doc_id, pos, r) in one pass, which also materializes `lookup` when
    * it is a lazy checkpoint, and sort each tie group with
    * [[resolveTies]]. Output: (doc_id, pos, r) for the contested rows
    * over a parallelized RDD, so no row enters the plan text. */
  private def fullResolve(t: Tied, step: Long, kMax: Int,
                          lookup: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = lookup.sparkSession
    val sc = spark.sparkContext
    val partners = (for (i <- 0 until t.size; k <- 1 to kMax
                         if t.pos(i) + k * step < t.len(i))
      yield (t.doc(i), t.pos(i) + k * step)).distinct.sorted
    val keys = new PosKeys(partners.map(_._1).toArray, partners.map(_._2).toArray)
    val bk = sc.broadcast(keys)
    val found = lookup.select(col("doc_id"), col("pos"), col("r"))
      .queryExecution.toRdd.mapPartitions { it =>
        val k = bk.value
        val ix = new scala.collection.mutable.ArrayBuilder.ofInt
        val rk = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { x =>
          val i = k.indexOf(x.getLong(0), x.getLong(1))
          if (i >= 0) { ix += i; rk += x.getLong(2) }
        }
        Iterator((ix.result(), rk.result()))
      }.collect()
    bk.destroy()
    val ranks = Array.fill(partners.size)(-1L)
    for ((ix, rk) <- found; j <- ix.indices) ranks(ix(j)) = rk(j)
    val resolved = resolveTies(t, step, kMax, { (d, p) =>
      val r = ranks(keys.indexOf(d, p))
      if (r < 0) throw new IllegalStateException(s"suffixRanks: no rank at ($d, $p)")
      r
    })
    val rows = Array.tabulate(t.size)(i => Row(t.doc(i), t.pos(i), resolved(i)))
    spark.createDataFrame(
      sc.parallelize(rows.toSeq, math.max(1, math.min(sc.defaultParallelism, t.size / 4096))),
      StructType(Seq("doc_id", "pos", "r").map(StructField(_, LongType, nullable = false))))
  }

  /** Distributed suffix-array construction over the WHOLE corpus by
    * prefix doubling with Manber–Myers bucket refinement (Manber & Myers
    * 1990; the Lee et al. 2022 exact-substring-dedup core primitive,
    * built the way a cluster has to build it — iterated group-local
    * refinement, NOT the sequential DC3/SA-IS scan a single machine would
    * use). Token-level: every document ends in one UNIQUE sentinel
    * (ranked below every token, sentinels in doc_id order), so every
    * suffix is distinct, comparisons never leak meaning across a document
    * boundary, and the final ranks are a permutation. A position is keyed
    * by (doc_id, pos); doc_id is the documents key, and a document whose
    * doc_id is null has no key, so it contributes no suffixes.
    *
    * Rank representation is the BUCKET START — tied suffixes share
    * r = 1 + (number of positions provably smaller). The seed ranks
    * every position by its first [[seedTokens]] symbols in ONE sorted
    * pass ([[seedRanks]] over a (token window, doc_id) key), whose
    * totals collect also yields the document count, the longest document
    * and the first round's contested count, so doubling starts at
    * step = seedTokens with no other pass. Each doubling round is then
    * GROUP-LOCAL: a tie group refines by the rank `step` positions ahead
    * (r₂), new r = r + rank-within-group(r₂), and every other rank is
    * untouched. Settled rows (group size 1) leave the loop permanently
    * and serve as a read-only lookup side, so a round costs
    * O(unresolved positions), not O(corpus). Once the contested set is
    * under [[resolveGate]] AND the whole remaining suffix fits a
    * ≤16-block composite key, the FULL RESOLVE finishes the sort on the
    * driver (the remaining rounds' keys, consulted at once): the job
    * that counted the contested rows also returned them, one pass over
    * the rank lookup collects their partners' ranks, and the driver sorts
    * each tie group. At ≤100-token documents that is the seed pass's own
    * collect, so no doubling round runs. The worst case stays
    * ceil(log2(maxDocLen / seedTokens)) rounds: sentinels bound every
    * within-document tie.
    *
    * Partners never leave their document. Tied windows are sentinel-free
    * (a window holding a sentinel is unique), so a contested row's
    * partner pos + step lies inside its own document: each doubling
    * round is one measured-size-gated broadcast INNER join of the
    * contested rows against the rank lookup on (doc_id, pos), plus two
    * windows over one exchange; localCheckpoint truncates per-round
    * lineage. The result is the settled rows of the checkpoints plus the
    * resolved rows over a parallelized RDD, so reading it is one job with
    * no exchange.
    *
    * Bounds: the seed key holds at most seedTokens tokens per position,
    * so the sort's key bytes stay within seedTokens × the corpus, and
    * the whole build within O(L log maxLen). A run of equal seed keys is
    * buffered while it is counted, and a round's window partition is one
    * tie group: both are bounded by the largest group of identical
    * seedTokens-token prefixes, so a degenerate single-token corpus would
    * serialize into one task (the hot bucket of any bucket algorithm).
    *
    * Output: (doc_id, pos, suffix_rank) for every TOKEN position —
    * suffix_rank ∈ 1..Ntokens densely (sentinel suffixes, the lowest
    * ndocs ranks, are subtracted out; once every group has size 1,
    * bucket-start rank ≡ dense rank ≡ position in suffix order). The
    * DuckDB oracle replays the construction from single-token ranks with
    * 12 unrolled dense_rank doubling stages — dense and bucket-start
    * ranks are order-isomorphic at every stage, so the final permutations
    * coincide (stages past uniqueness are no-ops; 2^12 = 4096 bounds the
    * oracle's valid doc length — the operator handles any length by
    * running more rounds). */
  def suffixRanks(documents: DataFrame): DataFrame = {
    // the tokenization is not cached: the seed sort's range sample and
    // shuffle write each tokenize, where a cache ran a job of its own to
    // fill (without it and with the driver-side resolve, graft.Bench at
    // sf0.1, 4 cores, 3 pairs: doc_suffix_ranks median 2.25 → 1.38 s).
    // Spread first: a one-split scan ran the seed sort's range sample and
    // shuffle write in one task each. A/B in perfbench job_chains (4
    // cores, seeds 501–508, alternating): doc_suffix_ranks median 1.52 →
    // 1.37 s, faster in 8 of 8 pairs, for one more build job (the
    // exchange) and cpu_s 6.96 → 7.21 s
    suffixRanksToked(tokedDocs(spreadScan(documents)))
  }

  /** The shared tokenization: one regex pass per document, null-safe. */
  private def tokedDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      coalesce(tokens(col("text")), array().cast("array<string>")).as("toks"))

  /** Symbols in the seed key of [[suffixRanks]]. The `documents` tables
    * hold documents of at most 100 tokens, so 8, 16 and 32 all let the
    * full resolve fire on the loop's first round (kMax 12, 6 and 3).
    * A/B on 4 cores: `doc_suffix_ranks` wall in `perfbench` job_chains
    * (sf0.01, medians of 3 seeds) 2.33 / 2.30 / 2.23 s for 8 / 16 / 32,
    * inside the runs' own 0.13–0.37 s spread; `graft.Bench` minimum at
    * sf0.1 (one run each) 3.73 / 3.27 / 5.23 s. 16 keeps the key at half
    * the bytes of 32. A whole-suffix key (seedTokens ≥ maxLen) would need
    * no loop at all, but its key bytes grow with the square of document
    * length. */
  private[graft] val seedTokens = 16

  /** [[suffixRanks]] over a tokenized relation (doc_id, toks). The seed
    * pass reads `toked` twice, its range sample and its shuffle write;
    * [[suffixLcp]] caches it (MEMORY_AND_DISK: corpus-sized, so it must
    * spill, never OOM, at scale) because it reads it a third time for its
    * slices. */
  private def suffixRanksToked(toked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // every position pos ∈ 0..size(toks) of a document with a doc_id,
    // pos = size being the sentinel, keyed by its first seedTokens
    // symbols: the tokens, and the doc_id when the sentinel falls inside
    // the window. Array order (a shorter prefix first) then puts a
    // sentinel below every token and orders sentinels by doc_id, so a run
    // start is the position's bucket-start rank
    val positions = toked.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")))).as("i"))
      .select(
        struct(slice(col("toks"), col("i") + 1, lit(seedTokens)),
          when(col("i") + seedTokens > size(col("toks")), col("doc_id"))).as("key"),
        col("doc_id").cast("long").as("doc_id"), col("i").cast("long").as("pos"),
        (size(col("toks")) + 1).cast("long").as("len"))
    // an empty corpus has maxLen 0: no round runs and the result is empty
    val (base, seed, seedTied) = seedRanks(positions)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var live = base
    var n = seed.tied
    var tied = seedTied
    var step = seedTokens.toLong
    var exhausted = false
    while (!exhausted && step < seed.maxLen) {
      // rank lookup = everything settled in earlier rounds + this round's
      // rows at their current ranks (all disjoint by (doc_id, pos))
      val lookup = (parts.toSeq :+ live.select(col("doc_id"), col("pos"), col("r")))
        .reduce(_ unionByName _)
      parts += live.filter(col("gs") === 1L).select(col("doc_id"), col("pos"), col("r"))
      val cont = live.filter(col("gs") > 1L)
      // offsets needed to cover the whole remaining suffix in one
      // composite key: blocks at +step·k for k = 1..kMax, where
      // (kMax+1)·step ≥ maxLen
      val kMax = ((seed.maxLen - 1) / step).toInt
      if (n == 0) exhausted = true
      // documents of ≤100 tokens give kMax 6 at step 16, so the resolve
      // fires at once at every scale; longer documents double until
      // kMax ≤ 16
      else if (tied.isDefined && kMax <= 16) {
        // FULL-RESOLVE: sorting a tie group by the ranks at +s, +2s, …,
        // +kMax·s is block-aligned lexicographic comparison of the ENTIRE
        // remaining suffix — the exact keys the remaining doubling rounds
        // would consult, consulted at once — and sentinel uniqueness
        // makes every composite distinct, so every row settles. A block
        // past the document's end counts as 0 (below every rank); it
        // never decides the order, because two composites differ at or
        // before the first block that holds a sentinel, whose partner
        // exists. The contested rows came with the job that counted
        // them, so the resolve is one pass over the lookup, on the driver
        parts += fullResolve(tied.get, step, kMax, lookup)
        exhausted = true
      }
      else {
        // the contested side broadcasts once it is measurably small, so
        // the lookup STREAMS (checkpoint-block scans, no shuffle) in the
        // tail rounds
        val shifted = cont.select(col("doc_id"), col("pos"), col("len"), col("r"),
          (col("pos") + step).as("ahead"))
        val contSide = if (n < 2000000L) broadcast(shifted) else shifted
        val paired = contSide.join(
          lookup.select(col("doc_id"), col("pos").as("ahead"), col("r").as("rv")),
          Seq("doc_id", "ahead"))
        // ONE exchange for both window functions: the new group size is
        // the peer count under the SAME (r)-partitioned, rv-ordered sort
        // — a peers-only RANGE frame — instead of a second shuffle on
        // (r, rv)
        val wRank = Window.partitionBy(col("r")).orderBy(col("rv"))
        val wPeers = wRank.rangeBetween(Window.currentRow, Window.currentRow)
        live = paired.select(col("doc_id"), col("pos"), col("len"),
            (col("r") + rank().over(wRank) - lit(1L)).as("r"),
            count(lit(1)).over(wPeers).as("gs"))
          .localCheckpoint(false)
        val (m, t) = roundTied(live) // materializes the checkpoint
        n = m
        tied = t
        step <<= 1
      }
    }
    // step >= maxLen: remaining groups are unique by the sentinel bound
    if (!exhausted) parts += live.select(col("doc_id"), col("pos"), col("r"))
    // the lowest ranks are the sentinels
    val nd = seed.sentinels
    parts.reduce(_ unionByName _)
      .filter(col("r") > nd)
      .select(col("doc_id"), col("pos").cast("int").as("pos"),
        (col("r") - nd).as("suffix_rank"))
  }

  /** LCP ARRAY over [[suffixRanks]] — the second half of the Lee et al.
    * 2022 exact-substring-dedup core: LCP[r] = length of the longest
    * common token prefix of the suffixes ranked r−1 and r. Adjacent-rank
    * suffixes maximize the LCP over all pairs, so every "this text
    * occurs twice anywhere in the corpus" question reduces to a linear
    * scan of this array (the classic suffix-array corollary).
    *
    * Distribution shape: the rank permutation joins its doc's token
    * array once (doc_id equi-join), each suffix carries only a
    * CAP-BOUNDED slice (`cap` tokens, default 64) — NOT its full tail,
    * which would make the pair join O(corpus²) payload — and adjacent
    * pairs meet by an equi-join on the dense unique rank (uniform
    * shuffle, no skew by construction). An LCP that reaches `cap` is
    * reported AS `cap` (saturated): exact enough for every ≥-threshold
    * duplication decision with threshold ≤ cap, and [[dupSpans]] proves
    * below that even span EXTENTS stay exact under saturation. At a
    * 100 TB corpus you'd escalate the (rare) saturated pairs through a
    * second pass with a bigger slice; the engine keeps the single-pass
    * cap honest by naming it in the output contract.
    *
    * LCP itself is closed-form on both engines: zip the two slices
    * null-safely, find the first mismatch position (`array_position` ≡
    * DuckDB `list_position` over the same comparison list), subtract
    * one; no mismatch within the window ⇒ min slice length. Output:
    * (rank, doc_id, pos, prev_doc_id, prev_pos, lcp) for every rank ≥ 2. */
  def suffixLcp(documents: DataFrame, cap: Int = 64): DataFrame = {
    require(cap >= 1 && cap <= 512, s"cap in [1,512], got $cap")
    // one tokenization, cached while suffixRanksToked runs its jobs
    // (the seed sort's range sample and shuffle write read it). The
    // unpersist in the finally fires at plan-CONSTRUCTION time, before any
    // caller materializes the returned relation, so the slice join below pays
    // one re-tokenization pass when the LCP artifact is first
    // materialized: there is no lazy hook to release the cache after an
    // action the caller owns.
    val toked = tokedDocs(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranks =
      try suffixRanksToked(toked)
      finally toked.unpersist(blocking = false)
    val sfx = ranks.join(toked, "doc_id")
      .select(col("doc_id"), col("pos"), col("suffix_rank"),
        slice(col("toks"), col("pos") + 1, lit(cap)).as("s"))
    val hi = sfx.select(col("suffix_rank").as("rank"), col("doc_id"),
      col("pos"), col("s").as("s_hi"))
    val lo = sfx.select((col("suffix_rank") + 1).as("rank"),
      col("doc_id").as("prev_doc_id"), col("pos").as("prev_pos"),
      col("s").as("s_lo"))
    val eqs = zip_with(col("s_lo"), col("s_hi"), (x, y) => x <=> y)
    // the build cap travels WITH the artifact (column metadata survives
    // select/persist/caching): a consumer whose threshold exceeds the
    // cap this relation was built with would silently read saturated
    // values as exact — dupSpans validates against this tag
    val capMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(lcpCapMetaKey, cap.toLong).build()
    hi.join(lo, "rank")
      .withColumn("ff", array_position(eqs, false))
      .select(col("rank"), col("doc_id"), col("pos"),
        col("prev_doc_id"), col("prev_pos"),
        when(col("ff") === 0,
          least(size(col("s_lo")), size(col("s_hi"))).cast("long"))
          .otherwise(col("ff") - 1).as("lcp", capMeta))
  }

  /** Column-metadata key carrying the cap a [[suffixLcp]] relation was
    * built with. */
  private[graft] val lcpCapMetaKey = "graft.lcp.cap"

  /** Maximal DUPLICATED token intervals per document — [[suffixLcp]]
    * turned into the dedup DECISION (Lee et al. 2022's "every substring
    * of ≥ minLen tokens that occurs twice anywhere in the corpus"):
    * each adjacent-rank pair with lcp ≥ minLen marks [pos, pos+lcp) in
    * BOTH participating docs, and the per-doc interval union (the
    * sort + running-max islands pattern, one bounded window per doc)
    * merges them into maximal spans.
    *
    * Exactness under the LCP cap: a duplicated run longer than `cap`
    * is still covered EXACTLY, because every interior position of the
    * run is itself a qualifying pair start and the capped intervals
    * chain-overlap to the run's true end — only the per-pair lcp VALUES
    * saturate, never the merged extents. Output: (doc_id, span_start,
    * span_end, span_len, n_intervals). */
  def dupSpans(documents: DataFrame, minLen: Int = 8,
               cap: Int = 64, lcpRel: Option[DataFrame] = None): DataFrame = {
    require(minLen >= 2 && minLen <= cap,
      s"minLen in [2,cap=$cap], got $minLen")
    import org.apache.spark.sql.expressions.Window
    // `lcpRel`: a PUBLISHED [[suffixLcp]] relation (cached/bucketed) —
    // the dedup decision and transform can both ride the same LCP
    // artifact, so a caller that builds it once and passes it in never
    // rebuilds the suffix array per downstream query. The artifact
    // must have been built with a cap ≥ minLen — a smaller build cap
    // would saturate below the threshold and silently MISS qualifying
    // pairs — so the build cap carried in the lcp column's metadata is
    // validated here instead of trusted (round-10 advisor). A foreign
    // relation without the tag is rejected: the contract is part of the
    // artifact, exactly like `bits` on the streaming HNSW ingest.
    lcpRel.foreach { rel =>
      // guard the column lookup itself: a relation without an lcp column
      // should fail with the CONTRACT message, not Spark's generic
      // field-not-found (round-11 advisor)
      require(rel.schema.fieldNames.contains("lcp"),
        "lcpRel has no 'lcp' column — build it with suffixLcp so the " +
          "saturation cap travels with the artifact")
      val m = rel.schema("lcp").metadata
      require(m.contains(lcpCapMetaKey),
        s"lcpRel carries no $lcpCapMetaKey metadata — build it with " +
          "suffixLcp so the saturation cap travels with the artifact")
      val builtCap = m.getLong(lcpCapMetaKey)
      require(builtCap >= minLen,
        s"lcpRel was built with cap=$builtCap < minLen=$minLen: " +
          "saturated LCPs below the threshold would silently drop spans")
    }
    val qualifying = lcpRel.getOrElse(suffixLcp(documents, cap))
      .filter(col("lcp") >= minLen)
    // both ends of each pair from one read of the LCP relation
    val spans0 = qualifying
      .select(explode(array(
        struct(col("doc_id").as("doc_id"), col("pos").as("s"),
          (col("pos") + col("lcp")).as("e")),
        struct(col("prev_doc_id").as("doc_id"), col("prev_pos").as("s"),
          (col("prev_pos") + col("lcp")).as("e")))).as("iv"))
      .select(col("iv.doc_id").as("doc_id"), col("iv.s").as("s"), col("iv.e").as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    spans0
      .withColumn("runmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
        when(col("runmax").isNull || col("s") > col("runmax"), 1L)
          .otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_intervals"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"),
        col("n_intervals"))
  }

  /** The excision TRANSFORM driven by [[dupSpans]] — the suffix-array
    * end of the Lee et al. pipeline made end-to-end: cut every token
    * inside a maximal duplicated interval and re-emit the cleaned text
    * ([[exciseDupSpans]]'s output contract, but the spans come from the
    * exact suffix/LCP machinery instead of cross-doc gram hashes, so
    * WITHIN-document repeats are excised too and the minimum duplicated
    * run is measured in exact token LCPs, not gram width). The cut runs
    * in a typed map over (doc, collected span list) — bounded per doc,
    * the [[exciseDupSpans]] discipline. Output: (doc_id, n_tokens,
    * n_removed, clean_text). */
  def exciseDupIntervals(documents: DataFrame, minLen: Int = 8,
                         cap: Int = 64,
                         lcpRel: Option[DataFrame] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val spans = dupSpans(documents, minLen, cap, lcpRel)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").cast("long").as("s"),
        col("span_end").as("e"))).as("spans"))
    documents.select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(spans, Seq("doc_id"), "left_outer")
      .as[(Long, Seq[String], Seq[(Long, Long)])]
      .map { case (id, toks0, spans0) =>
        val toks = if (toks0 == null) Seq.empty[String] else toks0
        val sp = if (spans0 == null) Seq.empty[(Long, Long)] else spans0
        val kept = toks.iterator.zipWithIndex.collect {
          case (w, j) if !sp.exists(p => j >= p._1 && j < p._2) => w
        }.toSeq
        (id, toks.length.toLong, (toks.length - kept.length).toLong,
          kept.mkString(" "))
      }
      .toDF("doc_id", "n_tokens", "n_removed", "clean_text")
  }

  /** Longest repeated token substring across the WHOLE corpus — the
    * question a suffix array answers via adjacent-rank LCPs, asked the
    * Spark-first way: a k-ary search for the answer length ([[lrsSearch]])
    * whose rounds each test [[lrsFan]] lengths in one corpus pass, then
    * one exact string pass at the found length. A round is one typed
    * pass over the checkpointed token hashes that emits (l, fingerprint)
    * for every candidate l at every start position ([[gramFingerprints]])
    * and a count≥2 hash agg on that key, so `[0, maxLen ≤ 100]` closes in
    * two rounds — corpus-linear each, shuffle only on gram keys — instead
    * of the O(L·maxLen) all-length table the DuckDB oracle brute-forces
    * (the near-dup contract: oracle exhaustive, engine sub-linear in the
    * probe dimension).
    *
    * The rounds compare 8-byte fingerprints, not gram strings: a round
    * emits a gram at every start for each of its ten lengths, several
    * times the gram tokens of one binary-search probe. Equal grams have
    * equal fingerprints, so a round never misses a repeat; a collision
    * can only overshoot, which the exact confirm (the string count≥2 agg
    * at the found length) catches, and the search then reruns below it.
    * The output is exact either way.
    *
    * (A gallop-then-binary-search bracket — probe 1,2,4,… before a binary
    * phase so early probes avoid maxLen/2-token gram strings — lost its
    * A/B: this corpus's planted near-dups make the answer close to the
    * longest document, so doubling just DOUBLES the probe count at
    * comparable per-probe cost; measured 2.5 → 7.2 s at sf0.1.)
    *
    * Output: a local relation of one row (lrs_len, gram, n_occurrences) —
    * the length, the lexicographically smallest witness at that length
    * (binary collation on both engines), and its positional occurrence
    * count — collected while the relation is built, so reading it runs
    * no job. ZERO rows if no token ever repeats. */
  def longestRepeatedSubstring(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // spread ahead of the checkpoint: every round's kernel then runs on
    // all cores (`doc_lrs` on 4 cores, fan 10: 1.02 → 0.98 s median of
    // six job_chains runs at sf0.01; graft.Bench minimum at sf0.1
    // 1.83–1.90 → 1.34–1.50 s)
    val toked = spreadScan(documents)
      .select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("toks"), transform(col("toks"), t => xxhash64(t)).as("hs"))
      .localCheckpoint(false)
    // the longest document, from the job that materializes the checkpoint
    val maxLen = toked.queryExecution.toRdd
      .mapPartitions(it => Iterator(it.foldLeft(0)((m, r) => math.max(m, r.getArray(0).numElements()))))
      .collect().foldLeft(0)(math.max)
    val hashes = toked.select(col("hs")).as[Array[Long]]
    def repeats(ls: Seq[Int]): Int = {
      val lens = ls.toArray
      hashes.flatMap(hs => gramFingerprints(hs, lens)).toDF("l", "h")
        .groupBy(col("l"), col("h")).count()
        .filter(col("count") >= 2)
        .select(col("l")).orderBy(col("l").desc).limit(1)
        .as[Int].collect().headOption.getOrElse(0)
    }
    def confirm(l: Int): Option[(String, Long)] = toked
      .select(explode(positionalShingles(col("toks"), l)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .orderBy(col("g").asc).limit(1)
      .as[(String, Long)].collect().headOption
    val rows = lrsSearch(maxLen, repeats, confirm).toSeq.map {
      case (l, (g, c)) => org.apache.spark.sql.Row(l.toLong, g, c)
    }
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), new StructType()
      .add("lrs_len", LongType, nullable = false)
      .add("gram", StringType, nullable = false)
      .add("n_occurrences", LongType, nullable = false))
  }

  /** Lengths one [[longestRepeatedSubstring]] round tests. Ten is the
    * fewest that close `[0, 99]` in two rounds: a round leaves a bracket
    * of at most ⌈width/fan⌉ − 1, so two rounds close any maxLen ≤
    * fan·(fan + 1). A/B of `doc_lrs` wall on 4 cores, as the median of
    * three `job_chains` runs at sf0.01 and the `graft.Bench` minimum of
    * two runs at sf0.1, without the spread ahead of the checkpoint:
    * fan 4 1.10 / 1.37–1.39 s (three rounds at sf0.01), fan 10 1.11 /
    * 1.83–1.90 s, fan 16 1.13 / 2.20–2.59 s; with it (other seeds),
    * fan 4 1.07 / 1.08–1.27 s and fan 10 0.97 / 1.34–1.50 s. A smaller
    * fan carries less gram volume per round, which wins at sf0.1, but
    * pays for its extra rounds in jobs at sf0.01. */
  private[graft] val lrsFan = 10

  /** The driver side of [[longestRepeatedSubstring]]: the longest length
    * in [0, maxLen] with a repeat, and its witness. `repeats(ls)` is the
    * largest of the ascending lengths `ls` at which some fingerprint
    * occurs twice, or 0; `confirm(l)` checks length l exactly. Each round
    * tests [[lrsFan]] evenly spaced lengths up to `hi` and keeps the
    * bracket from the largest repeating one to just below the next. A
    * fingerprint test never misses a real repeat, so the answer never
    * exceeds `hi`; a collision can push `lo` above it, and then the
    * confirm fails and the search reruns below the rejected length. */
  private[graft] def lrsSearch[W](maxLen: Int, repeats: Seq[Int] => Int,
                                  confirm: Int => Option[W]): Option[(Int, W)] = {
    @annotation.tailrec
    def narrow(lo: Int, hi: Int): Int =
      if (lo >= hi) lo
      else {
        val step = (hi - lo + lrsFan - 1) / lrsFan
        val ls = ((lo + step) until hi by step) :+ hi
        val f = math.max(lo, repeats(ls))
        narrow(f, ls.find(_ > f).fold(hi)(_ - 1))
      }
    @annotation.tailrec
    def search(hi: Int): Option[(Int, W)] = narrow(0, hi) match {
      case 0 => None
      case l => confirm(l) match {
        case Some(w) => Some((l, w))
        case None => search(l - 1)
      }
    }
    search(maxLen)
  }

  /** Odd multiplier of the rolling gram fingerprint. */
  private val gramBase = 0x9E3779B97F4A7C15L

  /** (l, fingerprint) of every l-token gram of one document, for each of
    * the ascending lengths `ls`, from its token hashes `hs` (xxhash64).
    * The fingerprint is the rolling `h·B + hash(token)` over 2⁶⁴, read off
    * the prefix values P as P(i + l) − P(i)·Bˡ, so each (start, length)
    * costs O(1) and no gram string is built. */
  private def gramFingerprints(hs: Array[Long], ls: Array[Int]): Iterator[(Int, Long)] = {
    val n = hs.length
    val p = new Array[Long](n + 1)
    var i = 0
    while (i < n) { p(i + 1) = p(i) * gramBase + hs(i); i += 1 }
    ls.iterator.takeWhile(_ <= n).flatMap { l =>
      var bl = 1L
      var k = 0
      while (k < l) { bl *= gramBase; k += 1 }
      Iterator.range(0, n - l + 1).map(s => (l, p(s + l) - p(s) * bl))
    }
  }

  /** Unigram-LM subword segmentation (the SentencePiece/Kudo 2018 model
    * class — the OTHER dominant subword algorithm next to [[bpeMerges]]):
    * each distinct word segments into the piece sequence maximizing
    * Σ log P(piece) under a substring language model. Pieces are every
    * substring of corpus words up to `maxPieceLen`, P(piece) ∝ its
    * occurrence count weighted by word frequency — a deterministic,
    * corpus-derived LM (the trainable-EM refinement changes the
    * probabilities, not this segmentation machinery).
    *
    * Determinism across engines, exactly: piece log-probs quantize to
    * INTEGER micro-units (1e-6) so path scores are integer sums — no
    * float association anywhere — and ties break by the MINIMAL cut-mask
    * integer (bit j-1 set ⇔ a cut after character j). The mask
    * tie-break is provably decomposable: a candidate's total mask is
    * its suffix's mask plus one strictly-lower bit, so per-suffix
    * (max score, min mask) is globally optimal — the DP and the
    * oracle's brute-force agree by construction.
    *
    * Scale shape: word-frequency and piece tables are vocab-scale; the
    * piece LM collects to the driver and broadcasts (collected-codebook
    * discipline — it is bounded by Σ |word|·maxPieceLen over DISTINCT
    * words at any corpus size); segmentation is a Viterbi DP per
    * distinct word inside one typed map — O(|word|·maxPieceLen) each,
    * embarrassingly parallel, the corpus itself is touched once for the
    * two vocab aggregates. The DuckDB oracle instead ENUMERATES all
    * 2^(len-1) cut masks per word (len ≤ 8 here) — brute force against
    * the engine's DP, the doc_lrs contract. */
  def unigramSegment(documents: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val wordFreq = documents.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val subs = wordFreq.as[(String, Long)]
      .flatMap { case (w, f) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxPieceLen, w.length - i)
        } yield (w.substring(i, i + l), f)
      }
      .toDF("piece", "f")
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    val total = subs.agg(sum(col("cnt")).as("t"))
    val pieceLp: Map[String, Long] = subs.crossJoin(broadcast(total))
      .select(col("piece"),
        floor(log10(col("cnt").cast("double") / col("t").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("lp"))
      .as[(String, Long)].collect().toMap
    val bc = spark.sparkContext.broadcast(pieceLp)
    val P = maxPieceLen
    wordFreq.select(col("w")).as[String].map { w =>
      if (w.length > 62) {
        // Over-long token (URL, hash, base64 blob — common in real web
        // text): the 62-bit cut-mask tie-break can't represent its cut
        // set, so pass it through UNSEGMENTED with a null score rather
        // than aborting the whole corpus on one token (advisor finding,
        // round 9). Downstream consumers read n_pieces=1 + null
        // score_micro as "unsegmentable"; the oracle carries the same
        // branch.
        (w, w.length, w, 1L, Option.empty[Long])
      } else segmentWord(w, bc.value, P)
    }.toDF("word", "n_chars", "pieces", "n_pieces", "score_micro")
  }

  /** The per-word Viterbi DP of [[unigramSegment]] (words ≤ 62 chars —
    * the cut-mask width; longer words are passed through by the caller). */
  private def segmentWord(w: String, pm: Map[String, Long],
                          P: Int): (String, Int, String, Long, Option[Long]) = {
      val n = w.length
      val NEG = Long.MinValue / 4
      val score = new Array[Long](n + 1)
      val mask = new Array[Long](n + 1)
      score(n) = 0L; mask(n) = 0L
      var i = n - 1
      while (i >= 0) {
        var bs = NEG
        var bm = Long.MaxValue
        var j = i + 1
        val jMax = math.min(i + P, n)
        while (j <= jMax) {
          if (score(j) > NEG) pm.get(w.substring(i, j)).foreach { lp =>
            val s = score(j) + lp
            val m = mask(j) | (if (j < n) 1L << (j - 1) else 0L)
            if (s > bs || (s == bs && m < bm)) { bs = s; bm = m }
          }
          j += 1
        }
        score(i) = bs; mask(i) = bm
        i -= 1
      }
      val cuts = (1 until n).filter(j => (mask(0) & (1L << (j - 1))) != 0L)
      val bounds = 0 +: cuts :+ n
      val pieces = bounds.sliding(2).map { case Seq(a, b) =>
        w.substring(a, b)
      }.toSeq
      (w, n, pieces.mkString(" "), pieces.length.toLong, Some(score(0)))
  }

  // ------------------------------------------------- blocklist scanning

  /** The demo blocklist — the external-config analog (C4's badwords list,
    * a PII-trigger list) pinned as literals so the DuckDB oracle can
    * single-source the identical VALUES list. Deliberate structure: nested
    * patterns ("agg" ends inside every "agg row" — the dict-suffix-link
    * case), a self-overlapping pattern ("table table" matches twice in
    * "table table table"), a token-straddling substring ("lue tab" crosses
    * the "value table" word boundary), and a never-matching probe
    * ("quantum" must be ABSENT from the output, not present-with-zero).
    */
  val defaultBlocklist: Seq[String] = Seq(
    "fast", "fast table", "agg", "agg row", "table table",
    "batch batch", "scan slow", "lue tab", "quantum")

  /** Aho–Corasick automaton over a fixed pattern set: goto trie + BFS
    * failure links + merged dict-suffix outputs, so a single left-to-right
    * pass over the text reports EVERY occurrence of EVERY pattern —
    * overlapping, nested, and self-overlapping included — in
    * O(chars + matches), independent of pattern count (Aho & Corasick,
    * CACM 1975). Built once per partition from the broadcast pattern list
    * (build cost is O(total pattern chars); at a 100 k-pattern production
    * blocklist you would lift the build into a lazily-initialized
    * executor singleton — the scan loop is unchanged).
    */
  private[graft] final class AhoCorasick(patterns: Array[String]) {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "blocklist patterns must be non-empty")
    require(patterns.distinct.length == patterns.length,
      "blocklist patterns must be distinct")
    private val goto_ =
      scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.HashMap.empty[Char, Int])
    private val ends =
      scala.collection.mutable.ArrayBuffer(List.empty[Int])
    // trie
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { c =>
        s = goto_(s).getOrElseUpdate(c, {
          goto_ += scala.collection.mutable.HashMap.empty[Char, Int]
          ends += Nil
          goto_.length - 1
        })
      }
      ends(s) = pi :: ends(s)
    }
    private val fail = new Array[Int](goto_.length)
    // out(v) = patterns ending at v itself or any dict suffix of v —
    // merged during the BFS so the scan loop never walks fail chains
    private val out = new Array[List[Int]](goto_.length)
    locally {
      val queue = scala.collection.mutable.Queue.empty[Int]
      out(0) = ends(0)
      goto_(0).values.foreach { v => fail(v) = 0; out(v) = ends(v); queue += v }
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        goto_(u).foreach { case (c, v) =>
          var f = fail(u)
          while (f != 0 && !goto_(f).contains(c)) f = fail(f)
          fail(v) = goto_(f).get(c).filter(_ != v).getOrElse(0)
          out(v) = ends(v) ::: out(fail(v))
          queue += v
        }
      }
    }

    /** Per-pattern occurrence counts over one text (all occurrences). */
    def countAll(text: String): Array[Long] = {
      val counts = new Array[Long](patterns.length)
      var s = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        while (s != 0 && !goto_(s).contains(c)) s = fail(s)
        s = goto_(s).getOrElse(c, 0)
        var hits = out(s)
        while (hits.nonEmpty) { counts(hits.head) += 1L; hits = hits.tail }
        i += 1
      }
      counts
    }
  }

  /** Multi-pattern blocklist scan — the C4-class badwords/policy filter
    * (Raffel et al. JMLR 2020 §2.2 run a fixed blocklist over every
    * document) as a single-pass automaton instead of P per-pattern scans.
    *
    * Shape: patterns are config-scale (the collected-codebook discipline —
    * they ship with the job, not through a shuffle), the scan is a typed
    * `mapPartitions` building the automaton once per partition and
    * emitting (doc_id, pattern, n_hits) rows for hit patterns only — the
    * counts complete row-locally, so the whole query is ZERO-shuffle and
    * embarrassingly parallel at any corpus size. A naive
    * `P × regexp_count` column stack is O(chars · patterns) and re-reads
    * the text P times; the automaton is O(chars + matches) regardless of
    * P — at a 100 k-pattern blocklist over 100 TB that factor is the
    * difference between one pass and a hundred thousand.
    *
    * Match semantics are exhaustive: overlapping occurrences count
    * separately, nested patterns each count ("agg row" also advances
    * "agg"), matching is raw-character exact (no tokenization — blocklist
    * hits legitimately straddle token boundaries). NULL texts scan as
    * empty. Patterns with zero corpus hits produce no rows.
    */
  def blocklistHits(documents: DataFrame,
                    patterns: Seq[String] = defaultBlocklist): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val pats = patterns.toArray
    // validate on the DRIVER: a bad pattern list should fail at plan
    // build, not as a per-task executor crash
    new AhoCorasick(pats)
    documents
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val ac = new AhoCorasick(pats)
        rows.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val counts = ac.countAll(text)
            Iterator.range(0, pats.length).collect {
              case p if counts(p) > 0L => (id, pats(p), counts(p))
            }
          }
        }
      }
      .toDF("doc_id", "pattern", "n_hits")
  }
}
