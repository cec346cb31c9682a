package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis for training-data pipelines (SURVEY.md §2 group H, north
  * star per BASELINE.json:6) over the `documents` table: term frequency,
  * language-ID heuristic, quality scoring, token counting, fingerprinting.
  *
  * All pure built-in expressions (split/explode/aggregate/regexp) — fully
  * codegen'd, map-side partial aggregation, no UDFs. Each has an exact
  * DuckDB oracle twin.
  */
object TextOps {

  private val toks: Column = split(col("text"), " ")

  /** Marker-word profiles for the language-ID heuristic: per candidate
    * language, a tiny stopword set; prediction = argmax marker-hit ratio,
    * 'und' (undetermined) when nothing scores. (A real system ships char
    * n-gram profiles; the mechanism — score per language, argmax — is the
    * same and the whole computation stays in one codegen'd expression.)
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "les", "et"))

  private def hitRatio(markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))
      .cast(DoubleType) / size(toks).cast(DoubleType)

  /** Positional token postings (doc_id, pos, tok) — the inverted-index
    * core shared by phrase search and the bigram LM, persisted once
    * (OpCache). posexplode is 0-based; only position DELTAS cross
    * the oracle boundary, so the base never matters.
    */
  private def posPostings(s: SparkSession, dir: String): DataFrame =
    OpCache.cached(dir, Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok"))))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Reproducible train/holdout split — the training-pipeline primitive a
    // dedup'd corpus feeds into. Assignment is a pure function of doc_id
    // (Knuth multiplicative hash mod 100, 90/10), so it is stable across
    // runs, cluster sizes, and row order — never `rand()`, which shuffles
    // membership on every retry. Map-only: no shuffle, no state.
    "split_holdout" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("bucket", Tables.splitHash(col("doc_id"), 100L))
        .select(col("doc_id"), col("lang"),
          when(col("bucket") < 90, "train").otherwise("holdout").as("split"))
        .orderBy("doc_id")
    }),

    // Unigram log-probability scoring — the perplexity-filter analog of
    // public corpus practice: score each document by its mean token
    // log-probability under the corpus' own unigram LM; outlier (very
    // unlikely) documents are the quality-filter candidates. The LM is a
    // token-frequency table built once (OpCache; at 100 TB the vocabulary
    // table a pipeline materializes anyway) joined back to the token
    // postings — vocabulary joins are the standard LM-scoring shape.
    // round(6) absorbs libm ln() last-ulp differences across engines.
    "text_unigram_logprob" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val tokens = OpCache.cached(dir,
        d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok")))
      val vocab = OpCache.cached(dir,
        tokens.groupBy("tok").agg(count(lit(1)).as("tf"))
          .crossJoin(broadcast(tokens.agg(count(lit(1)).as("total"))))
          .select(col("tok"),
            (col("tf").cast(DoubleType) / col("total").cast(DoubleType)).as("p")))
      tokens.join(vocab, Seq("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          round(avg(log(col("p"))), 6).as("avg_logp"))
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang", "n_tok", "avg_logp")
        .orderBy("doc_id")
    }),

    // Benchmark decontamination — remove from the TRAIN split any document
    // sharing an 8-token gram with a HOLDOUT document (the n-gram overlap
    // rule of public LM training practice; holdout stands in for an eval
    // benchmark). Shape: explode grams → inverted-index equi-join on the
    // gram → anti-join the hits out of train. The gram array is built once
    // per row and the exploded postings are persisted (OpCache) so the
    // Generate path never re-evaluates the transform. The join key is
    // xxhash64(gram) — grams are hashed to fixed-width longs map-side, so
    // the posting exchange ships 8 bytes/row instead of a ~50-byte string
    // (the hash is internal to each engine: the DuckDB twin uses its own
    // 64-bit hash(), and only the surviving doc ids are compared; a
    // within-engine collision would need ~2^32 distinct grams).
    "pipeline_decontaminate" -> ((s, dir) => {
      val n = 8
      val docs = Tables.documents(s, dir)
        .withColumn("is_test",
          Tables.splitHash(col("doc_id"), 100L) >= 90)
      val grams = OpCache.cached(dir,
        docs.select(col("doc_id"), col("is_test"),
          explode(when(size(toks) >= n,
            transform(sequence(lit(0), size(toks) - n),
              i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
            .otherwise(array(xxhash64(col("text"))))).as("g")))
      val testGrams = grams.filter(col("is_test")).select("g").distinct()
      val contaminated = grams.filter(!col("is_test"))
        .join(testGrams, "g").select("doc_id").distinct()
      docs.filter(!col("is_test"))
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Sequence packing — assign documents to fixed token-budget bins, the
    // step that turns a cleaned corpus into training sequences. Assignment
    // is exclusive-running-token-count DIV budget within each source shard:
    // deterministic, order-stable, and windowed per source so the cumsum
    // never needs a single global partition (the scale version runs one
    // window per shard, which is exactly this plan).
    "pipeline_pack_sequences" -> ((s, dir) => {
      val budget = 256.0
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tok"))
        .withColumn("cum_excl", coalesce(sum("n_tok").over(w), lit(0L)))
        .withColumn("bin", floor(col("cum_excl") / budget).cast(LongType))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "bin")
    }),

    // Unicode normalization — the canonical-form cleanup every corpus
    // pipeline runs before tokenization: NFD-decompose, strip combining
    // marks, lowercase, collapse whitespace (graft.functions.NormalizeText,
    // one fused codegen'd pass; SQL: normalize_text()). The test corpus is
    // ASCII, so accents are injected deterministically first (translate
    // a/e/u → á/é/ü — identical in both engines) and the oracle twin is
    // DuckDB's independent utf8proc path: lower(strip_accents(...)) +
    // regex whitespace collapse. Map-only; doc_id is the total order.
    "text_normalize" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), translate(col("text"), "aeu", "áéü").as("accented"))
        .select(col("doc_id"),
          graft.functions.api.normalizeText(col("accented")).as("normalized"),
          length(col("accented")).cast(LongType).as("n_chars_raw"))
        .withColumn("n_chars_norm", length(col("normalized")).cast(LongType))
        .orderBy("doc_id")
    }),

    // Context-window chunking — slice each document into fixed-size token
    // windows (64 tokens, stride 48 → 16-token overlap), the step that turns
    // cleaned documents into model-sized training sequences. The token array
    // is materialized once behind an OpCache barrier so the Generate path
    // never re-evaluates the split per output chunk (explode re-runs its
    // child projection per OUTPUT row otherwise); map-only after the split —
    // no shuffle anywhere, (doc_id, off) is the unique total order.
    "pipeline_chunk_documents" -> ((s, dir) => {
      val win = 64L
      val stride = 48L
      val tk = OpCache.cached(dir,
        Tables.documents(s, dir)
          .select(col("doc_id"), toks.as("tk"))
          .withColumn("n", size(col("tk")).cast(LongType)))
      tk.select(col("doc_id"), col("tk"), col("n"),
          explode(sequence(lit(0L), col("n") - 1L, lit(stride))).as("off"))
        .select(col("doc_id"), col("off"),
          least(lit(win), col("n") - col("off")).as("n_tokens"),
          concat_ws(" ",
            slice(col("tk"), (col("off") + 1L).cast(IntegerType), lit(win.toInt)))
            .as("chunk_text"))
        .orderBy("doc_id", "off")
    }),

    // C4 / RefinedWeb-style LINE-level dedup — the web-corpus cleaning
    // step BETWEEN exact-doc and near-dup dedup: boilerplate repeats as
    // identical short spans across documents, so the corpus is cut into
    // fixed 12-token lines and every line that already appeared earlier
    // (first by (doc_id, offset) — the C4 keep-first rule) is dropped,
    // reporting each document's surviving fraction. ONE exchange keyed on
    // the line text (at 100 TB swap the key for a 128-bit hash of the
    // line — the xxhash64-gram-postings discipline — same plan shape);
    // the keeper choice is a rank-1 window, never a self-join.
    "pipeline_line_dedup" -> ((s, dir) => {
      val win = 12L
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .withColumn("n", size(col("tk")).cast(LongType))
        .select(col("doc_id"),
          explode(sequence(lit(0L), col("n") - 1L, lit(win))).as("off"),
          col("tk"))
        .select(col("doc_id"), col("off"),
          concat_ws(" ",
            slice(col("tk"), (col("off") + 1L).cast(IntegerType), lit(win.toInt)))
            .as("line"))
      val wl = Window.partitionBy("line").orderBy("doc_id", "off")
      chunks
        .withColumn("rn", row_number().over(wl))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        // kept_frac is a RATIONAL of counts — round in integer space (the
        // r8 RoundingBoundarySpec plants a 640-line doc whose true
        // fraction is an exact 6-dp half, where round(double, 6) is
        // engine-dependent; the event_interpolate discipline)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          (expr("(2 * n_kept * 1000000 + n_lines) div (2 * n_lines)")
            .cast(DoubleType) / 1e6).as("kept_frac"))
        .orderBy("doc_id")
    }),

    // The SKEW-PROOF twin of pipeline_line_dedup (VERDICT r6 ask #4). The
    // rank-1 window above has the classic hot-key hazard: a boilerplate
    // line at p% corpus frequency puts p% of ALL line rows into ONE window
    // partition — a window cannot split a key across tasks, so one task
    // drags the stage (measured: see the §8 ledger hot-line experiment).
    // The keep-first semantic doesn't need a window at all — it is an
    // ASSOCIATIVE MIN: the kept occurrence of a line is min(doc_id, off),
    // so the salted two-phase pattern applies with Spark's own partial
    // aggregation as phase 1 (every map task emits at most ONE candidate
    // per distinct line — the input partition plays the salt) and the
    // final hash aggregate as phase 2 (merges ≤ #tasks candidates per
    // line, O(tasks) not O(corpus) on the hot key). Per-doc kept counts
    // then read straight off the keeper table (one row per distinct line —
    // the keeper's doc gets the credit), never joining back to the skewed
    // line rows. Same outputs row-for-row (spec-pinned + same oracle
    // shape); at 100 TB this is the shape that survives boilerplate.
    "pipeline_line_dedup_salted" -> ((s, dir) => {
      val win = 12L
      // pack contract guard (ADVICE r7 #1): the packed (doc_id, off) min
      // below is lexicographic ONLY while off < 2^20. A ≥1M-token document
      // would silently credit keepers to the wrong doc_id, so — mirroring
      // the BandedRangeJoin.MaxBandsPerInterval discipline for the
      // analogous data-dependent hazard — an out-of-contract doc fails
      // loudly with a named error instead of corrupting the answer.
      val pack = 1L << 20
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .withColumn("n", size(col("tk")).cast(LongType))
        .withColumn("n",
          when(col("n") < pack, col("n")).otherwise(raise_error(concat(
            lit("pipeline_line_dedup_salted: doc_id="),
            col("doc_id").cast(StringType),
            lit(s" has >= $pack tokens — out of the packed-min contract;" +
              " widen the pack factor")))))
      val chunks = d
        .select(col("doc_id"),
          explode(sequence(lit(0L), col("n") - 1L, lit(win))).as("off"),
          col("tk"))
        .select(col("doc_id"), col("off"),
          concat_ws(" ",
            slice(col("tk"), (col("off") + 1L).cast(IntegerType), lit(win.toInt)))
            .as("line"))
      // phase 1+2: partial-then-final min per line. The (doc_id, off) pair
      // packs into ONE long (off < 2^20 — a ≥1M-token document is out of
      // contract for a 12-token-line web pipeline), because min over the
      // packed long == lexicographic min over the pair, and a LONG min
      // hash-aggregates inside whole-stage codegen where min(struct(...))
      // planned as Sort + SortAggregate — measured 1.5x SLOWER than the
      // window twin, i.e. the struct version re-introduced the very sort
      // the rewrite exists to avoid. (`pack` is declared above the scan so
      // the contract guard and the packing share one constant.)
      // group on (xxhash64(line), length(line)) instead of the line text —
      // the dedup_text_exact content-hash discipline and exactly what the
      // window key's own 100-TB note prescribes: the exchange carries 16
      // bytes per line instead of the string, and hash-table probes compare
      // longs. (The window twin keeps the text key: it IS the
      // rank-1-window-on-raw-lines baseline being replaced.)
      val keepers = chunks
        .groupBy(xxhash64(col("line")).as("lh"), length(col("line")).as("ln"))
        .agg(min(col("doc_id") * pack + col("off")).as("k"))
      // credit each line's keeper occurrence to its document
      val kept = keepers.groupBy(expr(s"k div $pack").as("doc_id"))
        .agg(count(lit(1)).as("n_kept"))
      // n_lines is CLOSED-FORM from the token count (the explode emits
      // exactly (n-1) div 12 + 1 offsets) — one corpus scan total, where a
      // second chunks aggregation would tokenize and explode the corpus
      // twice (measured 1.4x slower than the window twin before this)
      val lines = d.select(col("doc_id"),
        (expr(s"(n - 1) div $win") + 1L).as("n_lines"))
      lines.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        // integer-space round6, same as the window twin (see its comment)
        .withColumn("kept_frac",
          expr("(2 * n_kept * 1000000 + n_lines) div (2 * n_lines)")
            .cast(DoubleType) / 1e6)
        .orderBy("doc_id")
    }),

    // The composed corpus-preparation pipeline — the three stages a
    // training corpus actually passes through, as ONE declarative plan:
    // exact dedup (keep min doc_id per text) → quality gate (the
    // text_quality composite, >= 0.75) → reproducible 90/10 split. One
    // text-hash shuffle for the dedup, everything after is map-only;
    // Catalyst pipelines the gate into the dedup's output without
    // re-materializing the corpus. Oracle-paired end to end.
    "pipeline_prepare_corpus" -> ((s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to")
      val nTok = size(toks).cast(DoubleType)
      val stopRatio = size(filter(toks, t => stop.map(m => t === m).reduce(_ || _))) / nTok
      val ttr = size(array_distinct(toks)).cast(DoubleType) / nTok
      val quality = round(
        when(nTok >= 20, 0.5).otherwise(0.0) +
        when(stopRatio.between(0.01, 0.5), 0.25).otherwise(0.0) +
        when(ttr > 0.3, 0.25).otherwise(0.0), 6)
      val d = Tables.documents(s, dir)
      // content-hash group key, not the text — see DedupOps.dedup_text_exact
      val keep = d.groupBy(xxhash64(col("text")).as("h"), length(col("text")).as("len"))
        .agg(min(col("doc_id")).as("doc_id"))
      d.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
        .withColumn("quality", quality)
        .filter(col("quality") >= 0.75)
        .withColumn("bucket", Tables.splitHash(col("doc_id"), 100L))
        .select(col("doc_id"), col("lang"),
          size(toks).cast(LongType).as("n_toks"), col("quality"),
          when(col("bucket") < 90, "train").otherwise("holdout").as("split"))
        .orderBy("doc_id")
    }),

    // The WHOLE corpus build as ONE declarative plan (VERDICT r5 ask #6) —
    // every cleaning stage this engine ships, composed the way a real
    // pre-training run chains them: exact dedup (min doc_id per content
    // hash) → line-level near-dup gate (C4 boilerplate rule: drop docs
    // keeping < 50% of their 12-token lines after corpus-wide keep-first)
    // → quality gate (the prepare_corpus composite, ≥ 0.75) → reproducible
    // 90/10 split → benchmark decontamination (drop train docs sharing an
    // 8-gram with any surviving holdout doc) → per-source sequence packing
    // of the clean train split (holdout rows carry a NULL bin). Scale
    // shape: every stage keeps its standalone key's discipline — content
    // hash / line key / gram hash equality exchanges, rank-1 windows, one
    // per-shard packing window; Catalyst pipelines the gates between the
    // exchanges, the corpus is never re-materialized between stages.
    // Oracle-paired end to end (hashes stay engine-internal: only doc ids
    // and derived stats cross the compare).
    "pipeline_end_to_end" -> ((s, dir) => {
      val lineW = 12L
      val gramN = 8
      val budget = 256.0
      val stop = Seq("the", "a", "of", "and", "to")
      val d = Tables.documents(s, dir)
      // stage 1: exact dedup on the content hash
      val keep = d.groupBy(xxhash64(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      val d1 = d.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      // stage 2: line-level near-dup gate over the deduped corpus
      val lines = d1
        .select(col("doc_id"), toks.as("tk"))
        .withColumn("n", size(col("tk")).cast(LongType))
        .select(col("doc_id"),
          explode(sequence(lit(0L), col("n") - 1L, lit(lineW))).as("off"),
          col("tk"))
        .select(col("doc_id"), col("off"),
          concat_ws(" ", slice(col("tk"), (col("off") + 1L).cast(IntegerType),
            lit(lineW.toInt))).as("line"))
      val wl = Window.partitionBy("line").orderBy("doc_id", "off")
      // integer counts, not a double ratio: the >= 0.5 gate is the exact
      // 2·k >= n integer comparison and kept_frac rounds in integer space
      // (the rational-round6 discipline — see pipeline_line_dedup)
      val keptFrac = lines.withColumn("rn", row_number().over(wl))
        .groupBy("doc_id")
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("klt"),
          count(lit(1)).as("nlt"))
      // stage 3: quality gate; stage 4: split
      val nTok = size(toks).cast(DoubleType)
      val stopRatio =
        size(filter(toks, t => stop.map(m => t === m).reduce(_ || _))) / nTok
      val ttr = size(array_distinct(toks)).cast(DoubleType) / nTok
      val quality = round(
        when(nTok >= 20, 0.5).otherwise(0.0) +
        when(stopRatio.between(0.01, 0.5), 0.25).otherwise(0.0) +
        when(ttr > 0.3, 0.25).otherwise(0.0), 6)
      // persisted: d3 heads THREE consumers (holdout grams, train grams,
      // the final anti-join) — unpersisted, the whole dedup + line-window +
      // quality subtree re-executes per reference (the minhash/IVF OpCache
      // discipline; measured 3.0 s → 0.5 s steady-state at sf0.1)
      val d3 = OpCache.cached(dir,
        d1.join(keptFrac, Seq("doc_id"))
          .filter(col("klt") * 2 >= col("nlt"))
          .withColumn("quality", quality)
          .filter(col("quality") >= 0.75)
          .withColumn("split",
            when(Tables.splitHash(col("doc_id"), 100L) < 90, "train")
              .otherwise("holdout"))
          .select(col("doc_id"), col("source"), col("text"), col("split"),
            col("quality"),
            (expr("(2 * klt * 1000000 + nlt) div (2 * nlt)")
              .cast(DoubleType) / 1e6).as("kept_frac"),
            size(toks).cast(LongType).as("n_toks")))
      // stage 5: decontaminate train against the surviving holdout's grams.
      // Tokens materialize as a column BEFORE the gram lambda: slice(split
      // (text)) INSIDE the interpreted transform re-splits the document per
      // emitted gram — the exact O(tokens²) pathology the TopNgram /
      // ShingleHashes expressions exist to avoid; binding the array first
      // makes the lambda a per-gram slice of an already-built array.
      val grams = OpCache.cached(dir,
        d3.withColumn("tk", split(col("text"), " "))
          .select(col("doc_id"), col("split"),
            explode(when(size(col("tk")) >= gramN,
              transform(sequence(lit(0), size(col("tk")) - gramN),
                i => xxhash64(concat_ws(" ",
                  slice(col("tk"), i + 1, lit(gramN))))))
              .otherwise(array(xxhash64(col("text"))))).as("g")))
      val holdoutGrams = grams.filter(col("split") === "holdout")
        .select("g").distinct()
      val dirty = grams.filter(col("split") === "train")
        .join(holdoutGrams, "g").select("doc_id").distinct()
      val clean = d3.join(dirty, Seq("doc_id"), "left_anti")
      // stage 6: pack the clean train split into per-source token bins.
      // ONE conditional window instead of filter-pack-union: the exclusive
      // cumsum adds only train rows' tokens, so each train row's bin equals
      // packing the filtered train subsequence, holdout rows ride along
      // with a NULL bin — and `clean` is referenced once, not twice.
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val trainCum = coalesce(
        sum(when(col("split") === "train", col("n_toks")).otherwise(0L)).over(wp),
        lit(0L))
      clean
        .withColumn("bin",
          when(col("split") === "train",
            floor(trainCum / budget).cast(LongType)))
        .select("doc_id", "source", "split", "n_toks", "quality",
          "kept_frac", "bin")
        .orderBy("doc_id")
    }),

    // Global term frequency, top 30 terms (count desc, term asc tiebreak).
    "text_termfreq" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(toks).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(30)
    }),

    // Bigram collocations by pointwise mutual information — the phrase
    // detector of classic corpus pipelines (word2vec phrase merging,
    // ClickHouse users hand-roll exactly this over token tables). Bigrams
    // come from a map-local arrays_zip of each token list with its own
    // tail (never a positions self-join), so the only shuffles are the
    // two count aggregations on well-spread word keys; corpus totals are
    // broadcast scalars. PMI = ln(c_ab·T² / (B·c_a·c_b)) is computed with
    // the identical double expression on both engines (every count is
    // < 2^53-exact), round(6), total order, top-20.
    "text_collocations" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(toks.as("t"))
      val uni = d.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val bi = d.select(explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      val tT = uni.agg(sum("cw").as("tt"))
      val tB = bi.agg(sum("cab").as("tb"))
      bi.filter(col("cab") >= 10)
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tT)).crossJoin(broadcast(tB))
        .select(col("w1"), col("w2"), col("cab"),
          round(log((col("cab").cast(DoubleType) * col("tt") * col("tt"))
            / (col("tb").cast(DoubleType) * col("c1") * col("c2"))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Fuzzy string matching — levenshtein argmin against a reference
    // vocabulary, the spell-correction / entity-resolution primitive (the
    // edit-distance confirm step a fuzzy-dedup pipeline runs after its
    // cheap candidate filter). Map-only: the 5-word vocabulary rides in
    // the row as a literal array; argmin-with-tiebreak is array_sort on
    // (distance, word) structs — no explode, no shuffle. Both engines run
    // the standard Wagner-Fischer distance — cross-implementation, not
    // one formula checked against itself.
    "text_fuzzy_match" -> ((s, dir) => {
      val refs = Seq("table", "vector", "stream", "filter", "window")
      val first = element_at(split(col("text"), " "), 1)
      val dists = array(refs.map(r =>
        struct(levenshtein(first, lit(r)).as("d"), lit(r).as("w"))): _*)
      Tables.documents(s, dir)
        .withColumn("nearest", element_at(array_sort(dists), 1))
        .select(col("doc_id"), first.as("first_word"),
          col("nearest.w").as("best"),
          col("nearest.d").cast(LongType).as("dist"))
        .orderBy("doc_id")
    }),

    // Positional-index phrase search — the search-engine primitive over a
    // document corpus: exact "w1 w2" phrase hits located by intersecting
    // per-term posting lists on (doc, position+1) adjacency. The postings
    // carry positions (posexplode — built once per scale dir, the inverted
    // index a corpus pipeline materializes anyway); each phrase term
    // selects its postings via a BROADCAST join against the tiny phrase
    // table, so the only exchange is the (doc_id)-keyed adjacency join of
    // two already-term-filtered (i.e. tiny) posting sets. At 100 TB the
    // postings are the bucketed table and a phrase probe touches only its
    // terms' rows — never a corpus scan.
    "text_phrase_search" -> ((s, dir) => {
      val toks = posPostings(s, dir)
      val ph = Seq(
        ("table hash", "table", "hash"),
        ("merge group", "merge", "group"),
        ("customer join", "customer", "join"))
      val phDf = s.createDataFrame(ph).toDF("phrase", "w1", "w2")
      val p1 = toks.join(broadcast(phDf), col("tok") === col("w1"))
        .select(col("phrase"), col("doc_id"), col("pos"))
      val p2 = toks.join(
          broadcast(phDf.select(col("phrase").as("phrase2"), col("w2"))),
          col("tok") === col("w2"))
        .select(col("phrase2"), col("doc_id").as("doc2"), col("pos").as("pos2"))
      p1.join(p2, col("phrase2") === col("phrase") &&
          col("doc2") === col("doc_id") && col("pos2") === col("pos") + 1)
        .groupBy("phrase", "doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("phrase", "doc_id")
    }),

    // Bigram language model with add-k smoothing — the fluency-scoring
    // step up from `text_unigram_logprob` (a real LM perplexity filter
    // conditions on context): P(w2|w1) = (c(w1,w2)+k) / (c(w1·)+k·V),
    // k = 0.5, scored as each document's mean bigram log-probability.
    // Bigrams come from ONE lead() over the positional postings (a single
    // doc_id-keyed window exchange); the count tables are
    // vocabulary-sized aggregates joined back on (w1,w2) and (w1) — the
    // standard LM-scoring join shape, and V rides in as a broadcast
    // scalar. round(6) absorbs cross-engine ln() ulps (discipline of the
    // unigram twin).
    "text_bigram_logprob" -> ((s, dir) => {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = OpCache.cached(dir,
        posPostings(s, dir)
          .select(col("doc_id"), col("tok").as("w1"),
            lead(col("tok"), 1).over(w).as("w2"))
          .filter(col("w2").isNotNull))
      val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = posPostings(s, dir)
        .agg(countDistinct(col("tok")).cast(DoubleType).as("v"))
      bigrams
        .join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log((col("c12") + lit(0.5)) /
            (col("c1") + lit(0.5) * col("v")))), 6).as("avg_logp"))
        .orderBy("doc_id")
    }),

    // Jaro-Winkler similarity — the record-linkage companion to
    // `text_fuzzy_match`'s edit distance (transposition-tolerant, prefix
    // boosted; what name/title resolution ranks by). Scored by the
    // codegen'd [[graft.functions.JaroWinkler]] expression over adjacent
    // part names — a narrow equi-join on p_partkey+1, map-only scoring, the
    // same shape a blocked fuzzy-join takes after its candidate filter.
    // Cross-implementation check: DuckDB's independent rapidfuzz-lineage
    // `jaro_winkler_similarity` must agree to round(6).
    "text_jaro_winkler" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
      p.join(p.select(col("p_partkey").as("nk"), col("p_name").as("n_name")),
          col("nk") === col("p_partkey") + 1)
        .select(col("p_partkey"), col("p_name"), col("n_name"),
          round(graft.functions.api.jaroWinkler(col("p_name"), col("n_name")), 6)
            .as("jw"))
        .orderBy("p_partkey")
    }),

    // Language-ID heuristic: argmax of marker-word hit ratio.
    "text_langid" -> ((s, dir) => {
      val scored = profiles.foldLeft(Tables.documents(s, dir)) {
        case (df, (lang, markers)) => df.withColumn(s"score_$lang", hitRatio(markers))
      }
      val best = profiles.map { case (lang, _) =>
        struct(round(col(s"score_$lang"), 6).as("score"), lit(lang).as("lang"))
      }
      scored
        .withColumn("top", greatest(best: _*))
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          when(col("top.score") > 0, col("top.lang")).otherwise("und").as("pred_lang"),
          col("top.score").as("score"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length, token stats, stopword ratio, type-token
    // ratio, composite score — the standard pre-training filter features.
    "text_quality" -> ((s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to")
      val nTok = size(toks).cast(DoubleType)
      val stopRatio = size(filter(toks, t => stop.map(m => t === m).reduce(_ || _))) / nTok
      val ttr = size(array_distinct(toks)).cast(DoubleType) / nTok
      val avgLen = (length(col("text")) - size(toks) + 1).cast(DoubleType) / nTok
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars_m"),
          size(toks).cast(LongType).as("n_toks"),
          round(avgLen, 6).as("avg_tok_len"),
          round(stopRatio, 6).as("stop_ratio"),
          round(ttr, 6).as("ttr"),
          round(
            when(nTok >= 20, 0.5).otherwise(0.0) +
            when(stopRatio.between(0.01, 0.5), 0.25).otherwise(0.0) +
            when(ttr > 0.3, 0.25).otherwise(0.0), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // Zipf rank-frequency fit — OLS of ln(freq) on ln(rank) over the
    // corpus vocabulary: the standard corpus-health diagnostic (natural
    // text slopes ≈ −1; synthetic/templated corpora flatten). ONE
    // full-data pass (the term count aggregate); the ranking window and
    // the raw-sum OLS run on the vocabulary table, which is
    // metadata-sized at any corpus scale (Heaps' law: |V| ~ N^0.5).
    "text_zipf_fit" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(explode(toks).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
      val xy = tf.select(
        log(row_number().over(Window.orderBy(col("n").desc, col("term")))
          .cast(DoubleType)).as("x"),
        log(col("n").cast(DoubleType)).as("y"))
      xy.agg(count(lit(1)).cast(DoubleType).as("k"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("qx"),
        sum(col("y") * col("y")).as("qy"),
        sum(col("x") * col("y")).as("sxy"))
        .select(col("k").cast(LongType).as("n_terms"),
          round((col("k") * col("sxy") - col("sx") * col("sy"))
            / (col("k") * col("qx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") * col("qx") - col("sx") * col("sxy"))
            / (col("k") * col("qx") - col("sx") * col("sx")), 6).as("intercept"),
          round((col("k") * col("sxy") - col("sx") * col("sy"))
            * (col("k") * col("sxy") - col("sx") * col("sy"))
            / ((col("k") * col("qx") - col("sx") * col("sx"))
              * (col("k") * col("qy") - col("sy") * col("sy"))), 6).as("r2"))
    }),

    // Heaps vocabulary-growth curve — cumulative distinct types vs
    // cumulative tokens in doc_id order. "First sighting" is an aggregate
    // fact (min doc_id per term), NOT a running re-scan: per-doc new-type
    // counts collapse from the term table, then one cumulative window
    // over the per-doc aggregate (|docs| rows; bucket the curve at
    // extreme scale, same ordering semantics).
    "text_vocab_growth" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val perDoc = d.select(col("doc_id"), size(toks).cast(LongType).as("n_toks"))
      val firstSeen = d.select(col("doc_id"), explode(toks).as("term"))
        .groupBy("term").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDoc.join(firstSeen, Seq("doc_id"), "left")
        .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
        .select(col("doc_id"),
          sum("n_toks").over(w).as("cum_tokens"),
          sum("new_types").over(w).as("cum_types"))
        .withColumn("heaps_beta",
          round(log(col("cum_types").cast(DoubleType))
            / log(col("cum_tokens").cast(DoubleType)), 6))
        .orderBy("doc_id")
    }),

    // BPE tokenizer training — learn the first 5 byte-pair merges over
    // the corpus, the canonical LLM-pipeline operator. The design point
    // that makes this scale is WHERE the work happens: the only
    // corpus-sized pass is the word-count aggregate; every merge round
    // (adjacent-pair counting, best-pair selection, segmentation
    // rewrite) runs on the word-FREQUENCY table, which is Heaps-small —
    // exactly how production BPE trainers are built. Each round stays
    // in-plan: pair counts are a tiny aggregate, the argmax is a
    // TakeOrdered(1) with a total (n desc, pair) order, and the rewrite
    // cross-joins the broadcast 1-row best pair. `replace` applies
    // merges left-to-right non-overlapping — the standard greedy BPE
    // application, identical in both engines (the DuckDB twin unrolls
    // the same 5 rounds as CTEs — the PCA-oracle precedent).
    "pipeline_bpe_merges" -> ((s, dir) => {
      val SEP = ""
      var seg = Tables.documents(s, dir)
        .select(explode(toks).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(
          rtrim(regexp_replace(col("word"), "(.)", "$1" + SEP), SEP).as("seg"),
          col("freq"))
        // r10 (guide §2.4/§5): without a per-round lineage cut, round r's
        // segmentation plan re-derived rounds 1..r-1 from scratch -- the
        // 5-round loop compiled to 31 corpus scans / 62 exchanges and the
        // merge work re-ran quadratically in rounds. The word-frequency
        // table is Heaps-small, so a lazy localCheckpoint per round (and
        // one for each round's 1-row best pair, which is consumed twice:
        // the output union and the rewrite) keeps every round one plan
        // deep. Identical algebra -- only the DAG is deduplicated. (At
        // cluster scale: reliable checkpoint / a materialized merge table.)
        // ADVICE r10 #4 caveat: every round's lazy cut materializes under
        // the ONE final action and local blocks are not replayable, so a
        // late executor loss recomputes all rounds instead of failing fast
        // per round — acceptable locally, reliable checkpoint() beyond.
        .localCheckpoint(false)
      var out: DataFrame = null
      for (r <- 1 to 5) {
        val best = seg
          .select(col("freq"), split(col("seg"), SEP).as("sy"))
          .filter(size(col("sy")) > 1)
          .select(col("freq"), col("sy"),
            explode(sequence(lit(1), size(col("sy")) - 1)).as("i"))
          .select(element_at(col("sy"), col("i")).as("x"),
            element_at(col("sy"), col("i") + 1).as("y"), col("freq"))
          .groupBy("x", "y").agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("x"), col("y")).limit(1)
          .select(lit(r.toLong).as("merge_no"), col("x"), col("y"), col("n"))
          .localCheckpoint(false)
        out = if (out == null) best else out.unionAll(best)
        seg = seg
          .crossJoin(broadcast(
            best.select(col("x").as("bx"), col("y").as("by"))))
          .select(expr(s"replace(seg, bx || chr(31) || by, bx || by)")
            .as("seg"), col("freq"))
          .localCheckpoint(false)
      }
      out.orderBy("merge_no")
    }),

    // Corpus-comparison keyness — Dunning log-likelihood G² of each term
    // in one source vs the rest of the corpus (the AntConc/corpus-
    // linguistics "what is this subcorpus about" report). ONE full-data
    // pass (the (source, term) count); term and source totals are
    // broadcast-sized side tables, and the ranking window runs on the
    // vocab×sources table — metadata-sized at any corpus scale. The
    // b = 0 branch (term exclusive to the source) takes the standard
    // 0·ln(0) = 0 convention explicitly, so neither engine evaluates
    // ln(0); ranking orders on the ROUNDED statistic + term for a
    // deterministic cross-engine cut.
    "text_keyness" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("source"), explode(toks).as("term"))
      val ts = tok.groupBy("source", "term").agg(count(lit(1)).as("a"))
      val tt = tok.groupBy("term").agg(count(lit(1)).as("tt"))
      val st = tok.groupBy("source").agg(count(lit(1)).as("n1"))
      val g = tok.agg(count(lit(1)).as("nn"))
      val j = ts.join(broadcast(tt), "term").join(broadcast(st), "source")
        .crossJoin(broadcast(g))
        .withColumn("b", col("tt") - col("a"))
        .withColumn("e1",
          col("n1").cast(DoubleType) * col("tt") / col("nn"))
        .withColumn("e2",
          (col("nn") - col("n1")).cast(DoubleType) * col("tt") / col("nn"))
        .withColumn("g2", lit(2.0) *
          (col("a") * log(col("a") / col("e1")) +
            when(col("b") > 0, col("b") * log(col("b") / col("e2")))
              .otherwise(lit(0.0))))
      val w = Window.partitionBy("source")
        .orderBy(round(col("g2"), 6).desc, col("term"))
      j.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 10)
        .select(col("source"), col("term"), col("a"), col("b"),
          round(col("g2"), 6).as("keyness"), col("rk"))
        .orderBy("source", "rk")
    }),

    // BM25 ranked retrieval for a fixed 3-term query — the lexical
    // baseline every hybrid-search stack still runs (Robertson k1=1.2,
    // b=0.75; Lucene's ln(1 + (N−df+.5)/(df+.5)) idf). ONE token pass
    // produces the (doc, term) tf table for just the query terms
    // (filter BEFORE the aggregate — the explode never reaches the
    // shuffle for non-query tokens); df and the corpus scalars
    // (N, avgdl) are broadcast side tables. Per-term contributions are
    // rounded at 6 before the ≤3-term sum, so cross-engine addition
    // order cannot surface an ulp; the top-20 cut is a
    // TakeOrderedAndProject on (rounded score, doc_id).
    "text_bm25" -> ((s, dir) => {
      val terms = Seq("spark", "join", "window")
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .withColumn("dl", size(col("tk")).cast(DoubleType))
      val stats = d.agg(count(lit(1)).cast(DoubleType).as("n_docs"),
        avg("dl").as("avgdl"))
      val tf = d.select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "dl", "term")
        .agg(count(lit(1)).cast(DoubleType).as("tf"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).cast(DoubleType).as("df"))
      tf.join(broadcast(dfq), "term")
        .crossJoin(broadcast(stats))
        .withColumn("c", round(
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
            * col("tf") * 2.2
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
          6))
        .groupBy("doc_id")
        .agg(round(sum("c"), 6).as("bm25"), count(lit(1)).as("n_terms"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }),

    // Multinomial naive-Bayes source classifier, trained and applied
    // in-plan — the oracle-able analog of the fastText-style quality
    // classifiers pretraining pipelines gate on. The class-conditional
    // model lives on the vocab×classes grid (Heaps-small at any corpus
    // scale → broadcast): add-1-smoothed ln p(t|c) rounded at 6 so both
    // engines score with IDENTICAL per-term weights. Scoring is the
    // (doc, term) tf table joined to the broadcast model, one (doc,
    // class) aggregate, and a 20-row argmax window per doc keyed on the
    // same doc_id exchange. Ties (and they exist — synthetic docs can
    // score equally under two sources) break on class name.
    "ml_naive_bayes" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val tok = d.select(col("doc_id"), col("source"), explode(toks).as("term"))
      val ct = tok.groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      val classTot = tok.groupBy("source").agg(count(lit(1)).as("tok_c"))
      val vocab = tok.select("term").distinct()
      val vSize = tok.agg(countDistinct("term").cast(DoubleType).as("v"))
      val model = vocab.crossJoin(broadcast(classTot))
        .join(broadcast(ct), Seq("source", "term"), "left")
        .crossJoin(broadcast(vSize))
        .select(col("source"), col("term"),
          round(log((coalesce(col("cnt"), lit(0L)) + lit(1.0))
            / (col("tok_c") + col("v"))), 6).as("lp"))
      val nDocs = d.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      val prior = d.groupBy("source").agg(count(lit(1)).as("dc"))
        .crossJoin(broadcast(nDocs))
        .select(col("source"),
          round(log(col("dc") / col("n_docs")), 6).as("lprior"))
      val dt = tok.groupBy("doc_id", "term")
        .agg(count(lit(1)).cast(DoubleType).as("tf"))
      // r10 (guide §2.3): the per-doc argmax class is min_by on
      // (−score, source) — identical to the old (score DESC, source ASC)
      // rank-1 window, computed as a partial-aggregating hash pass with
      // no extra exchange + sort.
      dt.join(broadcast(model), "term")
        .groupBy("doc_id", "source")
        .agg(sum(col("tf") * col("lp")).as("ll"))
        .join(broadcast(prior), "source")
        .select(col("doc_id"), col("source"),
          round(col("lprior") + col("ll"), 6).as("score"))
        .groupBy("doc_id")
        .agg(min_by(struct(col("source"), col("score")),
          struct(-col("score"), col("source"))).as("pick"))
        .join(d.select(col("doc_id"), col("source").as("actual")), "doc_id")
        .select(col("doc_id"), col("actual"),
          col("pick.source").as("predicted"), col("pick.score").as("score"),
          (col("pick.source") === col("actual")).as("correct"))
        .orderBy("doc_id")
    }),

    // Pre-training filter funnel — the composed keep/drop decision table
    // (C4/Gopher-style): length bounds, type-token ratio, stopword-ratio
    // band, exact-dup canonicalization, each as an auditable flag with a
    // first-failure reason code. All features are map-side; the only
    // exchange is the dup-canonical window on the hashed text key (the
    // dedup_text_exact discipline). This is the artifact a data curator
    // actually ships: WHY each document was dropped, not just the
    // surviving corpus.
    "pipeline_filter_funnel" -> ((s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to")
      val nTok = size(toks).cast(DoubleType)
      val f = Tables.documents(s, dir)
        .withColumn("n_toks", size(toks).cast(LongType))
        .withColumn("ttr", size(array_distinct(toks)).cast(DoubleType) / nTok)
        .withColumn("stop_ratio",
          size(filter(toks, t => stop.map(m => t === m).reduce(_ || _))) / nTok)
        .withColumn("canon",
          min(col("doc_id")).over(Window.partitionBy(xxhash64(col("text")))))
        .select(col("doc_id"),
          col("n_toks").between(20L, 1000L).as("pass_len"),
          (col("ttr") > 0.3).as("pass_ttr"),
          col("stop_ratio").between(0.01, 0.5).as("pass_stop"),
          (col("canon") === col("doc_id")).as("pass_dup"))
      f.withColumn("reason",
        when(!col("pass_len"), "len").when(!col("pass_ttr"), "ttr")
          .when(!col("pass_stop"), "stop").when(!col("pass_dup"), "dup")
          .otherwise("ok"))
        .withColumn("kept",
          col("pass_len") && col("pass_ttr") && col("pass_stop") && col("pass_dup"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens vs regex word tokens vs a BPE-ish
    // "word or leading-space word-piece" segmentation bound.
    "text_tokencount" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(toks).cast(LongType).as("ws_toks"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast(LongType)
            .as("re_toks"),
          // 4-chars-per-token heuristic upper bound (ceil(len/4))
          ceil(length(col("text")).cast(DoubleType) / 4.0).cast(LongType).as("bpe_est"))
        .orderBy("doc_id")
    }),

    // Stratified corpus mixing — per-source sampling rates (the
    // FineWeb/Dolma-style source-weighting step a training mix is built
    // from). Membership is a pure function of doc_id under a second
    // multiplicative hash (a DIFFERENT odd constant than split_holdout's,
    // so mix membership and train/holdout assignment stay independent):
    // deterministic across runs, cluster sizes and row order — never
    // rand()/TABLESAMPLE, which resample on every retry — and map-only, no
    // shuffle. Rates here: even sources 100%, src1 mod 4 half, rest 25%.
    "pipeline_sample_mix" -> ((s, dir) => {
      // overflow-safe multiplicative hash (the Tables.splitHash discipline,
      // r7 — this site used a different prime and was missed by the r6
      // sweep of 2654435761 call sites; the sf10 sweep caught the raw
      // multiply overflowing at ids ≥ ~4.1e9): pre-reduce mod 2³¹, the
      // identity for every id below 2³¹, defined behavior at any id
      val h = pmod(pmod(col("doc_id"), lit(2147483648L)) * 2246822519L,
        lit(1000L))
      val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast(LongType)
      val rate = when(pmod(srcNum, lit(4)) === 0, 1000L)
        .when(pmod(srcNum, lit(4)) === 1, 500L)
        .otherwise(250L)
      Tables.documents(s, dir)
        .filter(h < rate)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    }),

    // TF-IDF top terms per document — the classic retrieval/featurization
    // primitive. tf from one explode+groupBy (map-side partials), df over
    // the already-distinct (doc, term) pairs, corpus size N as a broadcast
    // one-row aggregate (never a driver-side collect). Ranking uses the
    // ROUNDED score on both engines so a last-ulp ln() difference between
    // libm implementations cannot flip ranks across the oracle.
    "text_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val tf = d.select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 6))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("score"))
        .orderBy("doc_id", "term")
    }),

    // PII redaction — the compliance scrub every published corpus runs.
    // The synthetic testdata contains no PII, so each document is first
    // suffixed with a deterministic contact line (both engines build the
    // identical string), then emails/phones are counted and replaced.
    // Patterns stay inside RE2-compatible syntax (no backrefs, no
    // lookaround) so Spark's java.util.regex and DuckDB's RE2 agree.
    "text_pii_redact" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
      val contact = concat(col("text"),
        lit(" contact user-"), col("doc_id").cast(StringType),
        lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(contact, lit(emailRe), lit(0)))
            .cast(LongType).as("n_emails"),
          size(regexp_extract_all(contact, lit(phoneRe), lit(0)))
            .cast(LongType).as("n_phones"),
          regexp_replace(regexp_replace(contact, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    }),

    // Repetition signals (Gopher-family quality filters): fraction of
    // duplicate tokens / 2-grams / 3-grams per document — heavily repeated
    // text is boilerplate or spam. All three fractions come from ONE fused
    // codegen'd pass (functions/NgramDupProfile) yielding (n, n_distinct)
    // per k;
    // the built-in transform/element_at phrasing re-split the document per
    // emitted gram — O(k·tokens²) interpreted, 33 s vs ~1 s at sf0.1 (the
    // ShingleHashes pathology, re-measured here). Map-only: no explode, no
    // shuffle, nothing but the two counts per (doc, k) leaves the pass.
    "text_repetition" -> ((s, dir) => {
      // ONE tokenize+hash pass for all three k — one pass per k re-split
      // and re-hashed the document each, the dominant cost at 500k-doc
      // scale (sf10 ramp).
      def dupFrac(st: Column): Column =
        round(when(st.getField("n") > 0,
          lit(1.0) - st.getField("n_distinct").cast(DoubleType) / st.getField("n"))
          .otherwise(0.0), 6)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.api.ngramDupProfile(col("text"), 3).as("pf"))
        .select(col("doc_id"),
          dupFrac(element_at(col("pf"), 1)).as("dup_tok_frac"),
          dupFrac(element_at(col("pf"), 2)).as("dup_2gram_frac"),
          dupFrac(element_at(col("pf"), 3)).as("dup_3gram_frac"))
        .orderBy("doc_id")
    }),

    // Top-n-gram concentration (the OTHER Gopher repetition rule —
    // `text_repetition` measures how much of the gram population is
    // duplicated; this measures how much of the TEXT one single gram
    // covers): fraction of characters inside the most frequent word
    // 2-gram, keep-gate at the Gopher 0.20 threshold. The per-doc argmax
    // runs as ONE fused codegen pass (functions/TopNgram, the
    // NgramDupProfile discipline measured a third time): the compositional
    // explode + groupBy(doc, gram) + per-doc rank shuffled every gram
    // occurrence just to discard all but one row per document — 3.7 s at
    // sf0.1, the suite's slowest key — where the fused map-only pass is
    // 0.2 s and NOTHING shuffles. Tie → binary-smallest gram, pinned on
    // both engines.
    "text_top_ngram_frac" -> ((s, dir) => {
      val tn = graft.functions.api.topNgram(col("text"), 2)
      Tables.documents(s, dir)
        .select(col("doc_id"), tn.as("tn"), length(col("text")).as("len"))
        .select(col("doc_id"),
          col("tn").getField("gram").as("top_gram"),
          when(col("tn").getField("gram").isNotNull,
            col("tn").getField("n")).as("top_n"),
          coalesce(round(
            col("tn").getField("n").cast(DoubleType)
              * length(col("tn").getField("gram")).cast(DoubleType)
              / col("len"), 6), lit(0.0)).as("top_gram_char_frac"))
        .withColumn("keep", col("top_gram_char_frac") <= 0.2)
        .orderBy("doc_id")
    }),

    // Rolling polynomial fingerprint over token codes, mod 1e9+7 — a
    // deterministic document signature (content-defined, order-sensitive).
    "text_fingerprint" -> ((s, dir) => {
      val M = 1000000007L
      val code = (t: Column) => (length(t).cast(LongType) * 131L + ascii(t)) % M
      Tables.documents(s, dir)
        .select(col("doc_id"),
          aggregate(toks, lit(0L), (acc, t) => (acc * 31L + code(t)) % M).as("fp"))
        .orderBy("doc_id")
    }))

  def oracle: Map[String, String] = Map(
    "split_holdout" ->
      """SELECT doc_id, lang,
        |       CASE WHEN ((doc_id % 2147483648) * 2654435761) % 100 < 90
        |            THEN 'train' ELSE 'holdout' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (
        |  SELECT tok, CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM t) AS p
        |  FROM t GROUP BY tok),
        |s AS (
        |  SELECT doc_id, count(*) AS n_tok, round(avg(ln(p)), 6) AS avg_logp
        |  FROM t JOIN v USING (tok) GROUP BY doc_id)
        |SELECT s.doc_id, d.lang, s.n_tok, s.avg_logp
        |FROM s JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "pipeline_decontaminate" ->
      """WITH d AS (
        |  SELECT *, ((doc_id % 2147483648) * 2654435761) % 100 >= 90 AS is_test FROM documents),
        |g AS (
        |  SELECT doc_id, is_test,
        |         unnest(CASE WHEN len(toks) >= 8
        |           THEN list_transform(range(len(toks)-7),
        |                  i -> hash(array_to_string(toks[i+1:i+8], ' ')))
        |           ELSE [hash(text)] END) AS g
        |  FROM (SELECT doc_id, is_test, text, string_split(text,' ') AS toks FROM d)),
        |dirty AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM g t JOIN (SELECT DISTINCT g FROM g WHERE is_test) q USING (g)
        |  WHERE NOT t.is_test)
        |SELECT doc_id, lang, source, n_chars FROM d
        |WHERE NOT is_test AND doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY doc_id""".stripMargin,
    "pipeline_pack_sequences" ->
      """WITH m AS (
        |  SELECT doc_id, source, len(string_split(text,' ')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |         COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
        |  FROM m)
        |SELECT source, CAST(floor(cum_excl / 256.0) AS BIGINT) AS bin,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "text_normalize" ->
      """WITH a AS (
        |  SELECT doc_id, translate(text, 'aeu', 'áéü') AS accented
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, accented,
        |         trim(regexp_replace(lower(strip_accents(accented)),
        |                             '\s+', ' ', 'g')) AS normalized
        |  FROM a)
        |SELECT doc_id, normalized,
        |       CAST(length(accented) AS BIGINT) AS n_chars_raw,
        |       CAST(length(normalized) AS BIGINT) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    "pipeline_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, tk, n,
        |         unnest(generate_series(0, n - 1, 48)) AS off
        |  FROM t)
        |SELECT doc_id, off, least(64, n - off) AS n_tokens,
        |       array_to_string(list_slice(tk, off + 1, off + 64), ' ') AS chunk_text
        |FROM x ORDER BY doc_id, off""".stripMargin,
    // same generate_series chunking as pipeline_chunk_documents; keep-first
    // rule is the identical rank-1 window on both engines
    "pipeline_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, unnest(generate_series(0, n - 1, 12)) AS off, tk
        |  FROM t),
        |c AS (
        |  SELECT doc_id, off,
        |         array_to_string(list_slice(tk, off + 1, off + 12), ' ') AS line
        |  FROM x),
        |r AS (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, off) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST((2 * CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |               * 1000000 + count(*)) // (2 * count(*)) AS DOUBLE)
        |         / 1000000 AS kept_frac
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the skew-proof twin computes the identical keep-first result via the
    // associative min — the oracle states the same semantic with the same
    // window (DuckDB needn't care about Spark's skew; equality of the two
    // keys' oracles IS the semantic-equivalence statement)
    "pipeline_line_dedup_salted" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, unnest(generate_series(0, n - 1, 12)) AS off, tk
        |  FROM t),
        |c AS (
        |  SELECT doc_id, off,
        |         array_to_string(list_slice(tk, off + 1, off + 12), ' ') AS line
        |  FROM x),
        |r AS (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, off) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST((2 * CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |               * 1000000 + count(*)) // (2 * count(*)) AS DOUBLE)
        |         / 1000000 AS kept_frac
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "pipeline_prepare_corpus" ->
      """WITH dedup AS (
        |  SELECT doc_id, lang, text FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |m AS (
        |  SELECT doc_id, lang, len(t) AS n_toks,
        |         len(list_filter(t, x -> x IN ('the','a','of','and','to')))::DOUBLE
        |           / len(t) AS stop_ratio,
        |         len(list_distinct(t))::DOUBLE / len(t) AS ttr
        |  FROM (SELECT doc_id, lang, text, string_split(text,' ') AS t FROM dedup)),
        |scored AS (
        |  SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks,
        |         round((CASE WHEN n_toks >= 20 THEN 0.5 ELSE 0.0 END
        |              + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 0.25 ELSE 0.0 END
        |              + CASE WHEN ttr > 0.3 THEN 0.25 ELSE 0.0 END)::DOUBLE, 6) AS quality
        |  FROM m)
        |SELECT doc_id, lang, n_toks, quality,
        |       CASE WHEN ((doc_id % 2147483648) * 2654435761) % 100 < 90
        |            THEN 'train' ELSE 'holdout' END AS split
        |FROM scored WHERE quality >= 0.75 ORDER BY doc_id""".stripMargin,
    // stage-for-stage twin of the Spark composition; each CTE is the
    // corresponding standalone key's oracle with the upstream survivors
    // substituted for the raw corpus
    "pipeline_end_to_end" ->
      """WITH dedup AS (
        |  SELECT * FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM dedup),
        |x AS (SELECT doc_id, unnest(generate_series(0, n - 1, 12)) AS off, tk
        |      FROM t),
        |c AS (SELECT doc_id, off,
        |             array_to_string(list_slice(tk, off + 1, off + 12), ' ') AS line
        |      FROM x),
        |r AS (SELECT doc_id,
        |             row_number() OVER (PARTITION BY line ORDER BY doc_id, off) AS rn
        |      FROM c),
        |kf AS (SELECT doc_id,
        |              CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS klt,
        |              count(*) AS nlt
        |       FROM r GROUP BY doc_id),
        |m AS (
        |  SELECT d.doc_id, d.source, d.text, kf.klt, kf.nlt,
        |         len(tt) AS ntd,
        |         len(list_filter(tt, x -> x IN ('the','a','of','and','to')))::DOUBLE
        |           / len(tt) AS stop_ratio,
        |         len(list_distinct(tt))::DOUBLE / len(tt) AS ttr
        |  FROM (SELECT doc_id, source, text, string_split(text,' ') AS tt
        |        FROM dedup) d
        |  JOIN kf USING (doc_id)
        |  WHERE kf.klt * 2 >= kf.nlt),
        |scored AS (
        |  SELECT doc_id, source, text,
        |         CAST((2 * klt * 1000000 + nlt) // (2 * nlt) AS DOUBLE)
        |           / 1000000 AS kept_frac,
        |         CAST(ntd AS BIGINT) AS n_toks,
        |         round((CASE WHEN ntd >= 20 THEN 0.5 ELSE 0.0 END
        |              + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 0.25 ELSE 0.0 END
        |              + CASE WHEN ttr > 0.3 THEN 0.25 ELSE 0.0 END)::DOUBLE, 6) AS quality,
        |         CASE WHEN ((doc_id % 2147483648) * 2654435761) % 100 < 90
        |              THEN 'train' ELSE 'holdout' END AS split
        |  FROM m),
        |d3 AS (SELECT * FROM scored WHERE quality >= 0.75),
        |g AS (
        |  SELECT doc_id, split,
        |         unnest(CASE WHEN len(tt) >= 8
        |           THEN list_transform(range(len(tt)-7),
        |                  i -> hash(array_to_string(tt[i+1:i+8], ' ')))
        |           ELSE [hash(text)] END) AS g
        |  FROM (SELECT doc_id, split, text, string_split(text,' ') AS tt FROM d3)),
        |dirty AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM g t JOIN (SELECT DISTINCT g FROM g WHERE split = 'holdout') q
        |    USING (g)
        |  WHERE t.split = 'train'),
        |clean AS (
        |  SELECT * FROM d3 WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
        |packed AS (
        |  SELECT doc_id, source, split, n_toks, quality, kept_frac,
        |         CAST(floor(COALESCE(sum(n_toks) OVER (
        |                PARTITION BY source ORDER BY doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              / 256.0) AS BIGINT) AS bin
        |  FROM clean WHERE split = 'train'),
        |hold AS (
        |  SELECT doc_id, source, split, n_toks, quality, kept_frac,
        |         CAST(NULL AS BIGINT) AS bin
        |  FROM clean WHERE split = 'holdout')
        |SELECT * FROM packed UNION ALL SELECT * FROM hold ORDER BY doc_id""".stripMargin,
    "text_termfreq" ->
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 30""".stripMargin,
    "text_zipf_fit" ->
      """WITH tf AS (
        |  SELECT term, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term),
        |xy AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, term) AS DOUBLE))
        |           AS x,
        |         ln(CAST(n AS DOUBLE)) AS y
        |  FROM tf)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |       round((count(*) * sum(x * y) - sum(x) * sum(y))
        |             / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS slope,
        |       round((sum(y) * sum(x * x) - sum(x) * sum(x * y))
        |             / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS intercept,
        |       round((count(*) * sum(x * y) - sum(x) * sum(y))
        |             * (count(*) * sum(x * y) - sum(x) * sum(y))
        |             / ((count(*) * sum(x * x) - sum(x) * sum(x))
        |                * (count(*) * sum(y * y) - sum(y) * sum(y))), 6) AS r2
        |FROM xy""".stripMargin,
    "text_vocab_growth" ->
      """WITH pd AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |fs AS (
        |  SELECT doc_id, count(*) AS new_types FROM (
        |    SELECT term, min(doc_id) AS doc_id FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |    GROUP BY term)
        |  GROUP BY doc_id),
        |j AS (
        |  SELECT pd.doc_id, pd.n_toks, coalesce(fs.new_types, 0) AS new_types
        |  FROM pd LEFT JOIN fs ON pd.doc_id = fs.doc_id),
        |c AS (
        |  SELECT doc_id,
        |         CAST(sum(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |              AS BIGINT) AS cum_tokens,
        |         CAST(sum(new_types) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |              AS BIGINT) AS cum_types
        |  FROM j)
        |SELECT doc_id, cum_tokens, cum_types,
        |       round(ln(CAST(cum_types AS DOUBLE)) / ln(CAST(cum_tokens AS DOUBLE)),
        |             6) AS heaps_beta
        |FROM c ORDER BY doc_id""".stripMargin,
    "pipeline_bpe_merges" ->
      """WITH wc AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |s0 AS (
        |  SELECT rtrim(regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |               chr(31)) AS seg, freq
        |  FROM wc),
        |p1 AS (
        |  SELECT sy[i] AS x, sy[i+1] AS y, sum(freq) AS n
        |  FROM (SELECT string_split(seg, chr(31)) AS sy, freq FROM s0),
        |       range(1, 64) t(i)
        |  WHERE i < len(sy) GROUP BY 1, 2),
        |b1 AS (SELECT x, y, n FROM p1 ORDER BY n DESC, x, y LIMIT 1),
        |s1 AS (SELECT replace(seg, b.x || chr(31) || b.y, b.x || b.y) AS seg,
        |              freq FROM s0, b1 b),
        |p2 AS (
        |  SELECT sy[i] AS x, sy[i+1] AS y, sum(freq) AS n
        |  FROM (SELECT string_split(seg, chr(31)) AS sy, freq FROM s1),
        |       range(1, 64) t(i)
        |  WHERE i < len(sy) GROUP BY 1, 2),
        |b2 AS (SELECT x, y, n FROM p2 ORDER BY n DESC, x, y LIMIT 1),
        |s2 AS (SELECT replace(seg, b.x || chr(31) || b.y, b.x || b.y) AS seg,
        |              freq FROM s1, b2 b),
        |p3 AS (
        |  SELECT sy[i] AS x, sy[i+1] AS y, sum(freq) AS n
        |  FROM (SELECT string_split(seg, chr(31)) AS sy, freq FROM s2),
        |       range(1, 64) t(i)
        |  WHERE i < len(sy) GROUP BY 1, 2),
        |b3 AS (SELECT x, y, n FROM p3 ORDER BY n DESC, x, y LIMIT 1),
        |s3 AS (SELECT replace(seg, b.x || chr(31) || b.y, b.x || b.y) AS seg,
        |              freq FROM s2, b3 b),
        |p4 AS (
        |  SELECT sy[i] AS x, sy[i+1] AS y, sum(freq) AS n
        |  FROM (SELECT string_split(seg, chr(31)) AS sy, freq FROM s3),
        |       range(1, 64) t(i)
        |  WHERE i < len(sy) GROUP BY 1, 2),
        |b4 AS (SELECT x, y, n FROM p4 ORDER BY n DESC, x, y LIMIT 1),
        |s4 AS (SELECT replace(seg, b.x || chr(31) || b.y, b.x || b.y) AS seg,
        |              freq FROM s3, b4 b),
        |p5 AS (
        |  SELECT sy[i] AS x, sy[i+1] AS y, sum(freq) AS n
        |  FROM (SELECT string_split(seg, chr(31)) AS sy, freq FROM s4),
        |       range(1, 64) t(i)
        |  WHERE i < len(sy) GROUP BY 1, 2),
        |b5 AS (SELECT x, y, n FROM p5 ORDER BY n DESC, x, y LIMIT 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS merge_no, x, y, CAST(n AS BIGINT) AS n
        |  FROM b1
        |  UNION ALL SELECT 2, x, y, CAST(n AS BIGINT) FROM b2
        |  UNION ALL SELECT 3, x, y, CAST(n AS BIGINT) FROM b3
        |  UNION ALL SELECT 4, x, y, CAST(n AS BIGINT) FROM b4
        |  UNION ALL SELECT 5, x, y, CAST(n AS BIGINT) FROM b5)
        |ORDER BY merge_no""".stripMargin,
    "text_keyness" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |ts AS (SELECT source, term, count(*) AS a FROM tok GROUP BY 1, 2),
        |tt AS (SELECT term, count(*) AS tt FROM tok GROUP BY 1),
        |st AS (SELECT source, count(*) AS n1 FROM tok GROUP BY 1),
        |g AS (SELECT count(*) AS nn FROM tok),
        |j AS (
        |  SELECT ts.source, ts.term, ts.a, tt.tt - ts.a AS b,
        |         CAST(st.n1 AS DOUBLE) * tt.tt / g.nn AS e1,
        |         CAST(g.nn - st.n1 AS DOUBLE) * tt.tt / g.nn AS e2
        |  FROM ts JOIN tt USING (term) JOIN st USING (source) CROSS JOIN g),
        |k AS (
        |  SELECT source, term, a, b,
        |         2.0 * (a * ln(a / e1)
        |                + CASE WHEN b > 0 THEN b * ln(b / e2) ELSE 0.0 END)
        |           AS g2
        |  FROM j),
        |r AS (
        |  SELECT source, term, a, b, round(g2, 6) AS keyness,
        |         CAST(row_number() OVER (PARTITION BY source
        |                ORDER BY round(g2, 6) DESC, term) AS BIGINT) AS rk
        |  FROM k)
        |SELECT source, term, a, b, keyness, rk
        |FROM r WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "text_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |d2 AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, tk FROM d),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
        |       FROM d2),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM d2)
        |  WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |        FROM tf GROUP BY term),
        |c AS (
        |  SELECT tf.doc_id,
        |         round(ln(1e0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |               * tf.tf * 2.2
        |               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)),
        |           6) AS c
        |  FROM tf JOIN dfq USING (term) CROSS JOIN st)
        |SELECT doc_id, round(sum(c), 6) AS bm25,
        |       CAST(count(*) AS BIGINT) AS n_terms
        |FROM c GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "ml_naive_bayes" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |ct AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |ctot AS (SELECT source, count(*) AS tok_c FROM tok GROUP BY 1),
        |vocab AS (SELECT DISTINCT term FROM tok),
        |vs AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tok),
        |model AS (
        |  SELECT ctot.source, vocab.term,
        |         round(ln((COALESCE(ct.cnt, 0) + 1e0) / (ctot.tok_c + vs.v)),
        |           6) AS lp
        |  FROM vocab CROSS JOIN ctot
        |  LEFT JOIN ct ON ct.source = ctot.source AND ct.term = vocab.term
        |  CROSS JOIN vs),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |prior AS (
        |  SELECT source, round(ln(count(*) / nd.n_docs), 6) AS lprior
        |  FROM documents CROSS JOIN nd GROUP BY source, nd.n_docs),
        |dt AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok GROUP BY 1, 2),
        |sc AS (
        |  SELECT dt.doc_id, model.source,
        |         round(prior.lprior + sum(dt.tf * model.lp), 6) AS score
        |  FROM dt JOIN model USING (term)
        |  JOIN prior ON prior.source = model.source
        |  GROUP BY 1, 2, prior.lprior),
        |best AS (
        |  SELECT doc_id, source AS predicted, score,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY score DESC, source) AS rn
        |  FROM sc)
        |SELECT b.doc_id, d.source AS actual, b.predicted, b.score,
        |       b.predicted = d.source AS correct
        |FROM best b JOIN documents d ON d.doc_id = b.doc_id
        |WHERE b.rn = 1 ORDER BY b.doc_id""".stripMargin,
    "pipeline_filter_funnel" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS ttr,
        |         CAST(len(list_filter(string_split(text, ' '),
        |                t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS stop_ratio,
        |         min(doc_id) OVER (PARTITION BY text) AS canon
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         n_toks BETWEEN 20 AND 1000 AS pass_len,
        |         ttr > 0.3 AS pass_ttr,
        |         stop_ratio BETWEEN 0.01 AND 0.5 AS pass_stop,
        |         canon = doc_id AS pass_dup
        |  FROM f)
        |SELECT doc_id, pass_len, pass_ttr, pass_stop, pass_dup,
        |       CASE WHEN NOT pass_len THEN 'len' WHEN NOT pass_ttr THEN 'ttr'
        |            WHEN NOT pass_stop THEN 'stop' WHEN NOT pass_dup THEN 'dup'
        |            ELSE 'ok' END AS reason,
        |       pass_len AND pass_ttr AND pass_stop AND pass_dup AS kept
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_jaro_winkler" ->
      """SELECT p.p_partkey, p.p_name, n.p_name AS n_name,
        |       round(jaro_winkler_similarity(p.p_name, n.p_name), 6) AS jw
        |FROM part p JOIN part n ON n.p_partkey = p.p_partkey + 1
        |ORDER BY p.p_partkey""".stripMargin,
    "text_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |ph(phrase, w1, w2) AS (VALUES
        |  ('table hash', 'table', 'hash'),
        |  ('merge group', 'merge', 'group'),
        |  ('customer join', 'customer', 'join'))
        |SELECT ph.phrase, a.doc_id, count(*) AS n_hits
        |FROM ph
        |JOIN t a ON a.tok = ph.w1
        |JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |        AND b.tok = ph.w2
        |GROUP BY ph.phrase, a.doc_id
        |ORDER BY phrase, a.doc_id""".stripMargin,
    "text_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, tok AS w1,
        |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM t),
        |bg AS (SELECT * FROM b WHERE w2 IS NOT NULL),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM t)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |       round(avg(ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v))), 6)
        |         AS avg_logp
        |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,
    "text_fuzzy_match" ->
      """WITH f AS (SELECT doc_id, string_split(text, ' ')[1] AS fw FROM documents),
        |d AS (SELECT doc_id, fw, w, levenshtein(fw, w) AS dist
        |      FROM f, (SELECT unnest(['table', 'vector', 'stream',
        |                              'filter', 'window']) AS w)),
        |r AS (SELECT doc_id, fw, w, dist,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY dist, w) AS rn
        |      FROM d)
        |SELECT doc_id, fw AS first_word, w AS best, CAST(dist AS BIGINT) AS dist
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "text_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |uc AS (SELECT w, count(*) AS cw
        |       FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
        |bc AS (SELECT w1, w2, count(*) AS cab
        |       FROM (SELECT u[1] AS w1, u[2] AS w2
        |             FROM (SELECT unnest(list_zip(tk[1:len(tk) - 1], tk[2:])) AS u
        |                   FROM t))
        |       GROUP BY w1, w2),
        |tot AS (SELECT (SELECT sum(cw) FROM uc) AS tt,
        |               (SELECT sum(cab) FROM bc) AS tb)
        |SELECT w1, w2, cab,
        |       round(ln((CAST(cab AS DOUBLE) * tt * tt)
        |                / (CAST(tb AS DOUBLE) * c1 * c2)), 6) AS pmi
        |FROM bc
        |JOIN (SELECT w AS w1, cw AS c1 FROM uc) USING (w1)
        |JOIN (SELECT w AS w2, cw AS c2 FROM uc) USING (w2)
        |CROSS JOIN tot
        |WHERE cab >= 10
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "text_langid" ->
      """WITH f AS (
        |  SELECT doc_id, lang AS labeled_lang, string_split(text,' ') AS t FROM documents),
        |s AS (
        |  SELECT doc_id, labeled_lang,
        |    round(len(list_filter(t, x -> x IN ('the','a','of')))::DOUBLE / len(t), 6) AS s_en,
        |    round(len(list_filter(t, x -> x IN ('el','la','de')))::DOUBLE / len(t), 6) AS s_es,
        |    round(len(list_filter(t, x -> x IN ('le','les','et')))::DOUBLE / len(t), 6) AS s_fr
        |  FROM f)
        |SELECT doc_id, labeled_lang,
        |       CASE WHEN greatest(s_en, s_es, s_fr) = 0 THEN 'und'
        |            WHEN s_fr >= s_es AND s_fr >= s_en THEN 'fr'
        |            WHEN s_es >= s_en THEN 'es'
        |            ELSE 'en' END AS pred_lang,
        |       greatest(s_en, s_es, s_fr) AS score
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH f AS (SELECT doc_id, text, string_split(text,' ') AS t FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars_m,
        |    CAST(len(t) AS BIGINT) AS n_toks,
        |    (length(text) - len(t) + 1)::DOUBLE / len(t) AS avg_tok_len,
        |    len(list_filter(t, x -> x IN ('the','a','of','and','to')))::DOUBLE / len(t) AS stop_ratio,
        |    len(list_distinct(t))::DOUBLE / len(t) AS ttr
        |  FROM f)
        |SELECT doc_id, n_chars_m, n_toks,
        |       round(avg_tok_len, 6) AS avg_tok_len,
        |       round(stop_ratio, 6) AS stop_ratio,
        |       round(ttr, 6) AS ttr,
        |       round((CASE WHEN n_toks >= 20 THEN 0.5 ELSE 0.0 END
        |            + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 0.25 ELSE 0.0 END
        |            + CASE WHEN ttr > 0.3 THEN 0.25 ELSE 0.0 END)::DOUBLE, 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_tokencount" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text,' ')) AS BIGINT) AS ws_toks,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_toks,
        |       CAST(ceil(length(text)::DOUBLE / 4.0) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,
    "pipeline_sample_mix" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE ((doc_id % 2147483648) * 2246822519) % 1000 <
        |      CASE CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4
        |        WHEN 0 THEN 1000 WHEN 1 THEN 500 ELSE 250 END
        |ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, round(tf * ln(n::DOUBLE / df), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, score FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3
        |ORDER BY doc_id, term""".stripMargin,
    "text_pii_redact" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         text || ' contact user-' || doc_id || '@example.com or +1-555-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH f AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (SELECT doc_id, t,
        |        CASE WHEN len(t) >= 2 THEN list_transform(range(len(t)-1),
        |               i -> t[i+1] || ' ' || t[i+2]) ELSE []::VARCHAR[] END AS g2,
        |        CASE WHEN len(t) >= 3 THEN list_transform(range(len(t)-2),
        |               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) ELSE []::VARCHAR[] END AS g3
        |      FROM f)
        |SELECT doc_id,
        |  round(CASE WHEN len(t) > 0
        |    THEN 1.0 - len(list_distinct(t))::DOUBLE / len(t) ELSE 0.0 END, 6) AS dup_tok_frac,
        |  round(CASE WHEN len(g2) > 0
        |    THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0.0 END, 6) AS dup_2gram_frac,
        |  round(CASE WHEN len(g3) > 0
        |    THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) ELSE 0.0 END, 6) AS dup_3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_top_ngram_frac" ->
      """WITH f AS (SELECT doc_id, length(text) AS len,
        |                  string_split(text,' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, len, unnest(list_transform(range(len(t)-1),
        |           i -> t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM f WHERE len(t) >= 2),
        |c AS (SELECT doc_id, len, gram, count(*) AS n FROM g GROUP BY 1, 2, 3),
        |top AS (
        |  SELECT doc_id, gram AS top_gram, n AS top_n,
        |         round(CAST(n AS DOUBLE) * length(gram) / len, 6) AS frac
        |  FROM c
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY n DESC, gram) = 1)
        |SELECT d.doc_id, top.top_gram, top.top_n,
        |       COALESCE(top.frac, 0.0) AS top_gram_char_frac,
        |       COALESCE(top.frac, 0.0) <= 0.2 AS keep
        |FROM documents d LEFT JOIN top ON top.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_concat([0::BIGINT],
        |           list_transform(string_split(text,' '),
        |             t -> (length(t)::BIGINT * 131 + ascii(t)) % 1000000007)),
        |         (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
