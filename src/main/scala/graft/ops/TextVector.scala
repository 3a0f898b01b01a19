package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text / vector / LLM-pipeline operators (SURVEY.md §2.9, T1–T27):
  * the analysis ops (term freq, n-grams, TF-IDF, profiling, language-ID,
  * quality, token counts, fingerprints), the full dedup family (exact,
  * MinHash LSH, SimHash, n-gram Jaccard, embedding near-dup, semantic/
  * SemDeDup, connected-component canonicalization, incremental batch-vs-
  * index), similarity search (brute-force + IVF ANN, k-means), and the
  * training-data assembly steps (decontamination, PII redaction,
  * sampling + quota mixing, sequence packing, repetition filtering,
  * int8 quantization).
  *
  * Design for 100 TB:
  *  - dedup never compares all pairs: LSH bands (T4/T27) / SimHash
  *    buckets (T10) / centroid clusters (T25/T26) turn O(n²) into
  *    bucket-local joins on hash or cluster keys;
  *  - similarity search brute-force path (T5/T6) broadcasts the small
  *    query side so the corpus side streams without a shuffle;
  *  - all hashing is deterministic (md5 on content + literal seeds) so
  *    even the sketchy ops get a DuckDB oracle, and sampling/packing
  *    layouts are pure functions of the data — reproducible on any
  *    engine, any partitioning.
  */
object TextVector {

  private def toks(c: Column): Column = split(c, " ")

  /** T1: tokenize + term frequency — top-20 corpus vocabulary. */
  def t1_term_freq(s: SparkSession, d: String): DataFrame =
    tokDocs(s, d)
      .select(explode(col("t")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  /** T2: n-grams — top-20 bigrams (shingling primitive for T4). */
  def t2_ngrams(s: SparkSession, d: String): DataFrame =
    tokDocs(s, d)
      .select(col("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(bigrams("t")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  /** T3: exact dedup by content hash — the corpus has no natural dups, so
    * union the corpus with itself: 2N rows in, N distinct hashes out
    * proves the collapse actually happened. */
  def t3_exact_dedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs)
      .select(md5(lower(trim(col("text")))).as("h"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("h")).as("n_distinct"))
  }

  /** Corpus ∪ near-duplicate copies (last token dropped, ids offset by
    * 1,000,000) — the deterministic collision generator for T4/T11/T12. */
  private def withNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(nearDupCopy(docs))
  }

  /** 4 LSH band keys from a shingle set: md5 per shingle (hex, lowercase
    * — identical to SQL md5()), lane k = min over shingles of the 12-hex
    * slice at offset 3k of the doubled digest, band b = lane(2b)+lane(2b+1).
    * Lexicographic String.min on hex == SQL min: same band keys as the
    * oracle's pure-SQL formulation, at compiled-loop speed. */
  private val hexChars = "0123456789abcdef".toCharArray
  /** The 8 minhash lanes of a shingle set (shared kernel of the band-key
    * and signature UDFs): md5 per shingle, lane k = min over shingles of
    * the 12-hex slice at offset 3k of the doubled digest. */
  private def md5Lanes(sh: Seq[String]): Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val ms = sh.map { s =>
      val d = md.digest(s.getBytes("UTF-8"))
      md.reset()
      val hex = new Array[Char](32)
      var i = 0
      while (i < 16) {
        hex(2 * i) = hexChars((d(i) >> 4) & 0xf)
        hex(2 * i + 1) = hexChars(d(i) & 0xf)
        i += 1
      }
      new String(hex)
    }
    (0 until 8).map { k =>
      ms.iterator.map(m => (m + m).substring(k * 3, k * 3 + 12)).min
    }
  }
  private val minhashBandKeys = udf((sh: Seq[String]) => {
    val lanes = md5Lanes(sh)
    (0 until 4).map(b => lanes(2 * b) + lanes(2 * b + 1))
  })
  /** The full 8-lane signature — X11's stream payload (96 hex chars per
    * doc, vs ~3× for the text and ~10× for the shingle set). */
  private val minhashLanes = udf((sh: Seq[String]) => md5Lanes(sh))

  /** Compiled 3-gram shingle set — byte-identical output (distinct,
    * first-occurrence order) to the
    * `array_distinct(transform(sequence(...), concat_ws(' ', ...)))`
    * HOF chain it replaces, but as plain JVM code: Spark higher-order
    * functions run interpreted, and shingling is the t4/t12 hot loop. */
  private val shingle3 = udf((ts: Seq[String]) => {
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i + 2 < ts.length) {
      seen.add(ts(i) + " " + ts(i + 1) + " " + ts(i + 2))
      i += 1
    }
    val out = new Array[String](seen.size)
    seen.toArray(out)
    out.toSeq
  })

  // Session-scoped persisted-frame sharing: see FrameMemo.scala (the
  // pattern started here as the t4 pair stage and is now shared with
  // the q15 revenue view in Tpch).

  /** Confirmed near-dup candidate pairs (Jaccard ≥ 0.5), the stage shared
    * by t4_minhash_lsh and t4_dedup_canonical — the corpus minhash pass
    * runs ONCE when both t4 queries execute in the same session
    * (Verify/Bench do); the cached set is only the confirmed pairs, tiny
    * relative to the corpus. */
  private val t4PairMemo = new FrameMemo("documents.parquet")(computeMinhashCandidatePairs)

  private def minhashCandidatePairs(s: SparkSession, d: String): DataFrame =
    t4PairMemo(s, d)

  private[graft] def resetT4PairCache(s: SparkSession, d: String): Unit =
    t4PairMemo.reset(s, d)

  /** Tokenized corpus: every documents column plus `t` = whitespace
    * tokens, computed once per (session, dir) and persisted. Nine-plus
    * text operators consume tokens; without sharing, each re-scans the
    * parquet and re-splits the corpus — the bench's dominant repeated
    * cost (the five slowest r5 queries were all tokenizers). At 100 TB
    * the equivalent move is materializing tokens as a column next to
    * the text at ingest: one pass, every downstream op reads it — this
    * memo is that materialization, session-scoped. */
  private val tokMemo = new FrameMemo("documents.parquet")((s, d) =>
    documents(s, d).withColumn("t", toks(col("text"))))

  private[graft] def tokDocs(s: SparkSession, d: String): DataFrame =
    tokMemo(s, d)

  private[graft] def resetTokCache(s: SparkSession, d: String): Unit =
    tokMemo.reset(s, d)

  /** Shingled near-dup corpus (documents ∪ planted copies, ≥3 tokens,
    * 3-gram shingle sets) — the front stage t4's candidate builder,
    * t12, t18, and t33 all previously recomputed independently; the
    * shingle UDF over the doubled corpus was the next-largest repeated
    * cost after tokenization. Same 100 TB story as tokDocs: in
    * production the shingle sets are materialized once at ingest. */
  private val ndShingleMemo = new FrameMemo("documents.parquet")((s, d) =>
    withNearDups(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .withColumn("sh", shingle3(col("t"))))

  private def shingledNearDups(s: SparkSession, d: String): DataFrame =
    ndShingleMemo(s, d)

  // private[graft] so ScaleDesignSpec can pin the shuffle shape of a
  // FRESH (un-memoized) candidate plan
  private[graft] def computeMinhashCandidatePairs(s: SparkSession, d: String): DataFrame = {
      val base = shingledNearDups(s, d)
      // one md5 per shingle; the 8 hash lanes are 12-hex slices of the
      // doubled digest (lanes are correlated, which weakens the classic
      // independence guarantee slightly, but candidate recall on near-dups
      // is driven by shared shingles and stays ≥95%). Computed in a
      // compiled UDF: Spark's higher-order functions run interpreted, and
      // this inner loop dominated the whole bench. Output is byte-identical
      // to the md5/substr/min SQL the DuckDB oracle runs.
      //
      // Shuffle discipline (the 100 TB lever): the exploded band join
      // carries ONLY (band, key, doc_id) — never the shingle arrays. A
      // doc's shingle set would otherwise cross the shuffle 8× (4 bands ×
      // 2 join sides); instead candidate (a_id, b_id) pairs are distinct'd
      // as bare ids and the shingle sets joined back once per side, so
      // shuffle volume is O(ids) + 2×O(corpus shingles), not 8×.
      val bands = base
        .select(col("doc_id"), posexplode(minhashBandKeys(col("sh")))
          .as(Seq("band", "key")))
      val a = bands.select(col("band"), col("key"), col("doc_id").as("a_id"))
      val b = bands.select(col("band"), col("key"), col("doc_id").as("b_id"))
      val pairs = a.join(b, Seq("band", "key")).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
        .distinct()
      val sets = base.select(col("doc_id"), col("sh"))
      pairs
        .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
        .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
            size(array_union(col("a_sh"), col("b_sh"))), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        // persisted by the FrameMemo that wraps this builder
  }

  /** T4: MinHash + LSH near-dup detection. 8 deterministic min-hashes
    * (md5 with literal seed suffixes) → 4 bands of 2 → band-bucket
    * self-join → Jaccard verification ≥ 0.5 on the candidates only.
    * At scale: the only shuffle is groupBy(band key); candidate pairs are
    * bucket-local, never all-pairs. */
  def t4_minhash_lsh(s: SparkSession, d: String): DataFrame =
    minhashCandidatePairs(s, d).orderBy("a_id", "b_id")

  /** T4b: canonical dedup — the step after candidate detection: every
    * doc appearing as the greater id of a confirmed near-dup pair is
    * dropped; the smaller id is the cluster canonical (ids are
    * ingestion-ordered, so this keeps the earliest copy — W5's
    * keep-latest is the timestamp-keyed variant). Output is the
    * survivor-set summary, checksummed so the oracle catches any
    * membership difference. */
  def t4_dedup_canonical(s: SparkSession, d: String): DataFrame = {
    val corpus = withNearDups(s, d).select(col("doc_id"))
    val dupIds = minhashCandidatePairs(s, d).select(col("b_id").as("doc_id")).distinct()
    val survivors = corpus.join(dupIds, Seq("doc_id"), "left_anti")
    survivors.agg(
      count(lit(1)).as("n_survivors"),
      sum(col("doc_id")).as("survivor_checksum"))
      .crossJoin(corpus.agg(count(lit(1)).as("n_total")))
      .select(col("n_total"), col("n_survivors"),
        (col("n_total") - col("n_survivors")).as("n_dropped"),
        col("survivor_checksum"))
  }

  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))
  // codegen'd Catalyst expression (graft.functions.DotProduct): identical
  // left-to-right accumulation as the zip_with/aggregate HOF fold it
  // replaced, so oracle hashes are unchanged — just no per-row array alloc
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.l2_squared(a, b)

  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** Precomputed-norm cosine — bit-identical to `cosine(a, b)`: the
    * fused kernel evaluates dot / (sqrt(na) * sqrt(nb)) and this form
    * keeps exactly that operand order (sqrt of the self-dot, then
    * na*nb, then the division), while each side's norm is computed
    * once per VECTOR in the pre-join select instead of once per PAIR.
    * At the pair sites (t5's 20×N, t6/t37/t38's query×corpus probes,
    * t11/t26's bucket/cluster pairs, the IVF ×8 fan-out) this removes
    * two of the three per-lane accumulators from the hot loop — a
    * bigger win than the kernel fusion itself at quadratic scale.
    * Null/NaN edges match the kernel: null input or length mismatch →
    * null (dot is null), zero norm → 0/0 = NaN. */
  private def vnorm(v: Column): Column =
    sqrt(graft.functions.VectorFunctions.dot_product(v, v))
  private def cosineN(a: Column, b: Column, na: Column, nb: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b) / (na * nb)

  /** Adjacent-token bigrams of a token-array column (T2, T24) — one
    * expression string so the two operators and their oracles can't
    * drift. Takes the column name (the lambda needs a stable SQL ref). */
  private def bigrams(tName: String): Column =
    expr(s"transform(sequence(1, size($tName)-1), i -> concat_ws(' ', element_at($tName,i), element_at($tName,i+1)))")

  /** The cross-engine sampling bucket (T17, T21): first 6 hex digits of
    * md5(id) mod 100 — a pure function of the id, reproducible anywhere
    * and stable under repartitioning. */
  private[ops] def md5Bucket(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("bigint") % 100)

  /** The deterministic near-dup generator recipe (shared by withNearDups
    * and T27's ingest batch): drop the last token, offset ids by
    * 1,000,000. T4/T11/T12's oracles restate this exact transform. */
  private def nearDupCopy(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))

  /** Centroid assignment kernel (T25, T26): broadcast the k centroid
    * rows, codegen SquaredL2 distance, argmin with cent_id tiebreak.
    * Returns (vec_id, v, cent_id, d2). The argmin aggregates a SLIM
    * (vec_id, cent_id, d2) frame with min_by — partial aggregation
    * combines the ×k fan-out map-side so the shuffle carries one thin
    * row per vector, and the 64-dim arrays join back once afterwards
    * (the earlier window-over-fanout form sorted all k×N wide rows). */
  private def assignToCentroids(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val best = vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"), l2sq(col("v"), col("cv")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cent_id"), col("d2")),
        struct(col("d2"), col("cent_id"))).as("best"))
      .select(col("vec_id"), col("best.cent_id").as("cent_id"),
        col("best.d2").as("d2"))
    vecs.join(best, "vec_id")
      .select(col("vec_id"), col("v"), col("cent_id"), col("d2"))
  }

  /** T5: pairwise cosine similarity on 64-dim embeddings — the 20 query
    * vectors are broadcast against the streamed corpus side: no shuffle
    * of the big side at any scale. */
  def t5_cosine(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), vnorm(col("v")).as("qn"))
    val c = e.select(col("vec_id").as("c_id"), col("v").as("cv"), vnorm(col("v")).as("cn"))
    q.join(c, col("q_id") < col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosineN(col("qv"), col("cv"), col("qn"), col("cn")), 4).as("cos_sim"))
      .filter(col("cos_sim") > 0.2)
      .orderBy("q_id", "c_id")
  }

  /** T6: brute-force top-k nearest neighbors (k=5) for 10 query vectors —
    * the exact baseline an IVF/LSH path is judged against (T10b is the
    * bucketed scale path). */
  def t6_topk_nn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), vnorm(col("v")).as("qn"))
    val c = e.select(col("vec_id").as("c_id"), col("v").as("cv"), vnorm(col("v")).as("cn"))
    val sims = q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosineN(col("qv"), col("cv"), col("qn"), col("cn")).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"), round(col("sim"), 4).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** T6b: IVF-style approximate nearest neighbors — the scale path next
    * to T6's exact baseline. Vectors are assigned to their best of 8
    * deterministic centroids (the first 8 corpus vectors — a stand-in
    * for k-means, which would add nondeterminism); queries probe ONLY
    * their own centroid's inverted list. At 100 TB the probe side is a
    * partition-pruned fraction of the corpus instead of all of it; the
    * price is recall, measured against t6 in TextVectorSpec. */
  def t6_topk_nn_ivf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        vnorm(col("v")).as("cvn"))
    // assign: argmax cosine over the 8 broadcast centroids. The argmax
    // runs on a SLIM (vec_id, cent_id, csim) frame via max_by — partial
    // aggregation combines the ×8 fan-out map-side, so the shuffle
    // carries one row per vector and never the 64-dim arrays (the
    // window-over-fanout form sorted all 8×corpus wide rows). Ties
    // break csim desc, cent_id asc, same as before (max of the
    // (csim, -cent_id) pair). Norms precompute per side (cosineN):
    // each vector's norm once, not once per centroid.
    def assign(vecs: DataFrame): DataFrame = vecs
      .withColumn("vn", vnorm(col("v")))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        cosineN(col("v"), col("cv"), col("vn"), col("cvn")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("csim"), (-col("cent_id")).as("nc"))).as("cent_id"))
    // the 10-query assignment derives from a 10-row input, not from a
    // filter over the corpus-sized assignment (which would recompute it)
    val q = e.filter(col("vec_id") < 10).join(assign(e.filter(col("vec_id") < 10)), "vec_id")
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cent_id"),
        vnorm(col("v")).as("qn"))
    val c = e.join(assign(e), "vec_id")
      .select(col("vec_id").as("c_id"), col("v").as("cv2"), col("cent_id"),
        vnorm(col("v")).as("cn2"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    q.join(c, Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", cosineN(col("qv"), col("cv2"), col("qn"), col("cn2")))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"), round(col("sim"), 4).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  /** T7: language/source profiling + length-bounds quality gate.
    * Reads the shared tokenized frame (no tokens needed, but the cached
    * scan replaces another pass over the parquet). */
  def t7_profile(s: SparkSession, d: String): DataFrame =
    tokDocs(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(when(col("n_chars").between(100, 400), 1).otherwise(0)).as("n_in_bounds"))
      .orderBy("lang", "source")

  /** T8: TF-IDF — tf × ln((N+1)/(df+1)), top-50 weighted terms. The
    * corpus size N arrives in-plan as a broadcast 1-row aggregate
    * (cross join), not a driver-side count() — no extra eager job. */
  def t8_tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = tokDocs(s, d)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .orderBy(col("tfidf").desc, col("doc_id").asc, col("term").asc)
      .limit(50)
      .select("doc_id", "term", "tf", "df", "tfidf")
  }

  /** T10: SimHash — 32-bit signature from per-token md5-derived bits;
    * near-dup candidates = pairs at hamming distance ≤ 3. */
  /** Compiled 32-bit SimHash over a token array. A UDF rather than HOF
    * expressions on purpose: Spark's higher-order functions run
    * interpreted (no codegen), and the 32-lane bit-vote inner loop is
    * ~10× faster as plain JVM code. The per-token hash is the first 8
    * hex chars of md5 (big-endian) — exactly what the DuckDB oracle
    * recomputes as CAST('0x' || substr(md5(t),1,8) AS BIGINT), which is
    * what makes t10 oracle-checkable (MurmurHash3 wouldn't be). Token
    * multiplicity counts: repeated tokens vote repeatedly, both sides. */
  private val simhash32 = udf((ts: Seq[String]) => {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](32)
    ts.foreach { t =>
      val dg = md.digest(t.getBytes("UTF-8"))
      md.reset()
      val h = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
        ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
      var b = 0
      while (b < 32) { votes(b) += (2 * ((h >> b) & 1) - 1).toInt; b += 1 }
    }
    var sig = 0L; var b = 0
    while (b < 32) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  })

  def t10_simhash(s: SparkSession, d: String): DataFrame = {
    val base = withNearDups(s, d)
      .select(col("doc_id"), simhash32(toks(col("text"))).as("sig"))
    val a = base.select(col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = base.select(col("doc_id").as("b_id"), col("sig").as("b_sig"))
    // bucket by the high 16 bits to avoid all-pairs (near-dups share them
    // unless a flipped bit lands there: standard multi-probe tradeoff)
    a.withColumn("bucket", expr("a_sig >> 16"))
      .join(b.withColumn("bucket", expr("b_sig >> 16")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(a_sig ^ b_sig)"))
      .filter(col("hamming") <= 3)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  /** T11: embedding-cosine near-dup — corpus ∪ slightly-perturbed copy;
    * pairs above 0.9999 cosine are the planted duplicates.
    *
    * Scale path: a 16-dim sign-hyperplane bucket (random-projection LSH
    * with axis-aligned planes) keys the self-join, so candidate pairs are
    * bucket-local — O(n) buckets instead of O(n²) pairs. A ≥0.9999-cosine
    * pair with any coordinate sign flipped would need that coordinate ≈ 0;
    * the planted ×1.001 perturbation preserves every sign exactly. The
    * bucket expression is deterministic, so DuckDB reproduces the same
    * candidate set and the oracle still hash-matches. */
  def t11_embed_neardup(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val pert = e.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("v"), x => x * 1.001).as("v"))
    val bucketExpr = expr(
      "concat_ws('', transform(slice(v, 1, 16), x -> IF(x >= 0.0d, '+', '-')))")
    val a = e.withColumn("bucket", bucketExpr)
      .select(col("bucket"), col("vec_id").as("a_id"), col("v").as("av"),
        vnorm(col("v")).as("an"))
    val b = pert.withColumn("bucket", bucketExpr)
      .select(col("bucket"), col("vec_id").as("b_id"), col("v").as("bv"),
        vnorm(col("v")).as("bn"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosineN(col("av"), col("bv"), col("an"), col("bn")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.9999)
      .orderBy("a_id", "b_id")
  }

  /** T12: n-gram Jaccard near-dup — 3-gram shingle sets, exact Jaccard on
    * id-adjacent candidate pairs (planted dups from withNearDups). */
  def t12_jaccard(s: SparkSession, d: String): DataFrame = {
    val base = shingledNearDups(s, d)
    val a = base.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = base.select((col("doc_id") - 1000000L).as("join_id"),
      col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("a_id") === col("join_id"))
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))), 4).as("jaccard"))
      .orderBy("a_id")
  }

  private val langWords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "ist"),
    "en" -> Seq("the", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "la", "et", "un"),
    "zh" -> Seq("de", "shi", "le", "he"))

  /** T13: language-ID heuristic — stopword-overlap score per language,
    * argmax with alphabetical tiebreak. (The synthetic corpus is
    * engine-vocab word salad, so scores — not accuracy — are the
    * deterministic thing being checked.) */
  def t13_langid(s: SparkSession, d: String): DataFrame = {
    val td = array_distinct(col("t"))
    val scoreCols = Seq(col("doc_id"), col("lang").as("labeled")) ++
      langWords.toSeq.sortBy(_._1).map { case (l, ws) =>
        size(array_intersect(td, array(ws.map(lit): _*))).as(s"s_$l")
      }
    val scored = tokDocs(s, d)
      .filter(col("doc_id") <= 300)
      .select(scoreCols: _*)
    scored.withColumn("predicted",
      when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es")
        && col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr")
          && col("s_en") >= col("s_zh"), "en")
        .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh"))
      .orderBy("doc_id")
  }

  /** T14: quality scoring — length / token-length / stopword-ratio blend
    * (the 47≤n_chars≤558 band is the corpus' observed range). */
  def t14_quality(s: SparkSession, d: String): DataFrame = {
    val t = col("t")
    val stop = array(Seq("the", "and", "of", "to", "a", "in").map(lit): _*)
    tokDocs(s, d)
      .filter(col("doc_id") <= 300)
      .select(col("doc_id"),
        col("n_chars"),
        size(t).as("n_toks"),
        round(col("n_chars").cast("double") / size(t), 4).as("avg_tok_len"),
        round(size(array_intersect(array_distinct(t), stop)).cast("double") /
          size(array_distinct(t)), 4).as("stopword_ratio"))
      .withColumn("quality_score", round(
        when(col("n_chars").between(100, 500), 0.5).otherwise(0.0)
          + when(col("avg_tok_len").between(3.0, 8.0), 0.3).otherwise(0.0)
          + when(col("stopword_ratio") > 0.01, 0.2).otherwise(0.0), 2))
      .orderBy("doc_id")
  }

  /** T15: token counting — whitespace tokens + a BPE-ish regex segmenter
    * (letters | digits | single punctuation). */
  def t15_token_count(s: SparkSession, d: String): DataFrame =
    tokDocs(s, d)
      .filter(col("doc_id") <= 300)
      .select(col("doc_id"),
        size(col("t")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .as("bpe_ish_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", ""))+ 1)
          .as("space_plus_one"))
      .orderBy("doc_id")

  /** T16: document fingerprint — positional rolling hash folded over
    * per-token codes (seeded by the first token's code, mod 1e9+7 each
    * step so both engines stay in exact integer range). */
  def t16_fingerprint(s: SparkSession, d: String): DataFrame =
    tokDocs(s, d)
      .filter(col("doc_id") <= 300)
      .select(col("doc_id"), col("t"))
      .withColumn("codes", expr("transform(t, x -> cast(length(x) * 31 + ascii(substring(x,1,1)) as bigint))"))
      .withColumn("fingerprint", expr(
        "aggregate(slice(codes, 2, size(codes)-1), element_at(codes, 1), (acc, x) -> (acc * 31 + x) % 1000000007)"))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")

  /** T49: BPE merge-candidate mining — the vocabulary-induction step
    * of tokenizer training as a distributed pair count. Classic BPE
    * compresses the corpus to a WORD-FREQUENCY table first, then
    * counts adjacent symbol pairs weighted by word frequency; the
    * top pair is the next merge. The scale shape matters: the
    * char-pair explode runs over DISTINCT words (vocab-sized — a few
    * million rows at 100 TB), not the corpus, and both aggregations
    * are map-side-combined groupBys. One merge round shown (the
    * fixed-point loop is this op iterated with the winning pair
    * fused into the symbol inventory). */
  def t49_bpe_merges(s: SparkSession, d: String): DataFrame = {
    val words = tokDocs(s, d)
      .select(explode(col("t")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("n"))
      .orderBy(desc("n"), col("pair")).limit(20)
  }

  /** The T50 oracle, composed programmatically: DuckDB applies the
    * SAME 8 merges in the SAME rank order through 8 nested replaces
    * (scalar subqueries against the ranked merge CTE), over the same
    * boundary-delimited symbol sequence — an independent end-to-end
    * re-derivation of mine + apply, not a replay of Spark's merges. */
  private def t50Oracle: String = {
    val seq0 =
      "' ' || rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '"
    // null-safe needles: on a degenerate corpus with fewer than 8
    // mined pairs the missing ranks' subqueries are NULL and
    // replace(x, NULL, NULL) would NULL the whole word — coalescing
    // the needle to '' makes an absent merge a no-op (DuckDB
    // replace(x, '', y) = x), matching the Spark side folding over
    // only the merges that exist
    val applied = (1 to 8).foldLeft(seq0) { (acc, i) =>
      s"replace($acc, coalesce((SELECT pat FROM m WHERE rn = $i), ''), " +
        s"coalesce((SELECT rep FROM m WHERE rn = $i), ''))"
    }
    """WITH words AS (
         SELECT w, count(*) AS wc FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
         GROUP BY w),
       pc AS (
         SELECT substr(w, CAST(t.i AS INT), 2) AS pair,
                CAST(sum(wc) AS BIGINT) AS n
         FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i)
         GROUP BY pair),
       m AS (
         SELECT pair,
           ' ' || substr(pair,1,1) || ' ' || substr(pair,2,1) || ' ' AS pat,
           ' ' || pair || ' ' AS rep,
           row_number() OVER (ORDER BY n DESC, pair) AS rn
         FROM pc QUALIFY rn <= 8),
       seg AS (
         SELECT w, wc, trim(""" + applied + """) AS bpe FROM words),
       top AS (
         SELECT w, wc, bpe,
                CAST(len(string_split(bpe, ' ')) AS INT) AS n_segments
         FROM seg ORDER BY wc DESC, w LIMIT 20)
       SELECT w, CAST(wc AS BIGINT) AS wc, bpe, n_segments,
         CAST(sum(wc * n_segments) OVER () AS BIGINT) AS top20_token_mass
       FROM top ORDER BY wc DESC, w"""
  }

  /** T50: BPE APPLY — the other half of tokenizer training (T49 mines
    * the merge table; this op segments the corpus with it). The merge
    * table is mined from the same word-frequency table (top-8 char
    * pairs, deterministic (count DESC, pair) rank) and COLLECTED — 8
    * rows, exactly the vocab-sized broadcast every real tokenizer
    * ships to executors — then each distinct word is segmented by
    * fusing merges IN RANK ORDER over a boundary-delimited symbol
    * sequence (` t h e ` --' t h '->' th '--> ` th e `; the
    * surrounding spaces make symbols unambiguous, so a later merge
    * can never fuse across a symbol boundary). One left-to-right
    * non-overlapping replace pass per merge — the standard fast-apply
    * variant, identical semantics in both engines — over DISTINCT
    * words (vocab-sized, not corpus-sized: the 100 TB shape).
    * Output: the 20 heaviest words with their segmentations plus the
    * top-20 token mass (Σ wc × segments — the number a budget planner
    * actually needs). */
  def t50_bpe_apply(s: SparkSession, d: String): DataFrame = {
    val words = tokDocs(s, d)
      .select(explode(col("t")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val merges = words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("n"))
      .orderBy(desc("n"), col("pair")).limit(8)
      .collect().map(_.getString(0)).toIndexedSeq
    val seq0 = "concat(' ', rtrim(regexp_replace(w, '(.)', '$1 ')), ' ')"
    val appliedExpr = merges.foldLeft(seq0) { (acc, p) =>
      s"replace($acc, ' ${p(0)} ${p(1)} ', ' $p ')"
    }
    words
      .withColumn("bpe", expr(s"trim($appliedExpr)"))
      .withColumn("n_segments", size(split(col("bpe"), " ")))
      .orderBy(desc("wc"), col("w")).limit(20)
      .withColumn("top20_token_mass",
        sum(col("wc") * col("n_segments")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1)).orderBy(lit(1))
            .rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("w"), col("wc"), col("bpe"),
        col("n_segments").cast("int").as("n_segments"),
        col("top20_token_mass").cast("long").as("top20_token_mass"))
      .orderBy(desc("wc"), col("w"))
  }

  /** The T51 oracle, generated round by round: DuckDB replays the FULL
    * BATCHED training loop — each round re-splits the previous round's
    * segmentation, counts adjacent SYMBOL pairs, ranks them
    * (count DESC, pair), accepts every pair no higher-ranked pair
    * shares a symbol with (the rank-functional non-interference rule —
    * a pure NOT EXISTS, no greedy state), caps acceptance at the
    * remaining global budget, and fuses the accepted merges in rank
    * order (`list_reduce` over the accepted list — the same
    * left-to-right nested-replace order the Spark loop applies). An
    * independent re-derivation of the fixed point, not a replay of
    * Spark's merges. Rounds past budget exhaustion (or past the
    * corpus's pair supply) no-op. CTEs stay MATERIALIZED — inlining
    * the chained rounds doubles file opens per round (the 2^16
    * open-files blowup the r18 harness caught). */
  private def t51Oracle(budget: Int): String = {
    val rounds = budget // worst case: one accepted merge per round
    val sb = new StringBuilder
    sb ++= """WITH words AS MATERIALIZED (
         SELECT w, count(*) AS wc FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
         GROUP BY w),
       s0 AS MATERIALIZED (
         SELECT w, wc,
           ' ' || rtrim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS seg
         FROM words),
       acc0 AS MATERIALIZED (
         SELECT '' AS pair, CAST(0 AS BIGINT) AS n, 0 AS rk, 0 AS ark,
                0 AS round WHERE false)"""
    for (i <- 1 to rounds) {
      val prev = s"s${i - 1}"
      sb ++= s""",
       c$i AS MATERIALIZED (
         SELECT pair, n,
                CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT)
                  AS rk,
                string_split(pair, ' ')[1] AS a,
                string_split(pair, ' ')[2] AS b
         FROM (
           SELECT q.l[CAST(t.i AS INT)] || ' ' ||
                  q.l[CAST(t.i AS INT) + 1] AS pair,
                  CAST(sum(q.wc) AS BIGINT) AS n
           FROM (SELECT wc, string_split(trim(seg), ' ') AS l FROM $prev) q,
                unnest(generate_series(1, len(q.l) - 1)) AS t(i)
           GROUP BY pair)),
       m$i AS MATERIALIZED (
         SELECT pair, n, rk, ark FROM (
           SELECT pair, n, rk,
                  CAST(row_number() OVER (ORDER BY rk) AS INT) AS ark
           FROM c$i p
           WHERE NOT EXISTS (
             SELECT 1 FROM c$i q WHERE q.rk < p.rk AND
               (q.a = p.a OR q.a = p.b OR q.b = p.a OR q.b = p.b)))
         WHERE ark <= $budget - (SELECT count(*) FROM acc${i - 1})),
       acc$i AS MATERIALIZED (
         SELECT * FROM acc${i - 1}
         UNION ALL
         SELECT pair, n, rk, ark, $i AS round FROM m$i),
       s$i AS MATERIALIZED (
         SELECT w, wc, list_reduce(
             list_prepend(seg,
               coalesce((SELECT list(pair ORDER BY rk) FROM m$i), [])),
             (acc, p) -> replace(acc, ' ' || p || ' ',
                                 ' ' || replace(p, ' ', '') || ' '))
           AS seg
         FROM $prev)"""
    }
    sb ++= s""",
       mass AS (
         SELECT CAST(sum(wc * len(string_split(trim(seg), ' '))) AS BIGINT)
           AS m FROM s$rounds)
       SELECT CAST(round AS INT) AS round,
              CAST(row_number() OVER (ORDER BY round, ark) AS INT)
                AS merge_idx,
              pair AS merge, replace(pair, ' ', '') AS symbol,
              n AS pair_weight,
              (SELECT m FROM mass) AS final_token_mass
       FROM acc$rounds ORDER BY merge_idx"""
    sb.toString
  }

  /** T51: BPE vocabulary TRAINING — the fixed-point loop a tokenizer
    * pipeline actually runs (T49 mine → T50 apply, iterated), BATCHED
    * the way real trainers batch (r19): each round counts
    * adjacent-symbol pairs over the CURRENT segmentation of the
    * distinct-word table, then fuses EVERY top-ranked pair whose
    * symbols no higher-ranked pair of the round touches — the
    * non-interference rule that lets k merges share one counting pass,
    * collapsing 16 sequential driver round-trips into ~3-4 (wall-clock
    * on a 50k-merge vocabulary scales with rounds × job latency, and
    * batching is the known fix). Acceptance is deliberately
    * rank-functional (a pair is blocked by ANY higher-ranked pair
    * sharing a symbol, accepted or not) so the DuckDB oracle replays
    * it as a pure NOT EXISTS — no greedy state to mirror. The round's
    * accepted merges apply IN RANK ORDER as nested boundary-delimited
    * replaces (T50's left-to-right non-overlap semantics — identical
    * in both engines). Every round stays VOCAB-sized: one
    * map-side-combined aggregation + one candidate-table collect
    * (bounded by the distinct adjacent-pair count, thousands). Budget
    * = 16 merges; output = the learned merge table in training order
    * (global `merge_idx`, with the batch `round` it was mined in) +
    * the corpus token mass after the final round. */
  /** One training round's batched acceptance under T51's
    * RANK-FUNCTIONAL rule: scan candidates in rank order (count desc,
    * pair asc) and accept a pair iff NO higher-ranked pair — accepted
    * OR rejected — touches either of its symbols. The rule is a pure
    * function of the ranked list, which is what lets the DuckDB
    * oracle replay it as a plain NOT EXISTS with zero greedy state.
    *
    * CONSERVATISM BOUND vs true-greedy batching (which blocks only on
    * ACCEPTED pairs), pinned here per the r19 verdict: (1) per round,
    * the rank-functional acceptance set is a SUBSET of the true-greedy
    * set — if no earlier-scanned pair touches p's symbols then no
    * earlier ACCEPTED pair does either; (2) the round's top-ranked
    * pair is ALWAYS accepted (nothing scanned before it), so a
    * b-merge budget completes in ≤ b rounds either way; (3) a pair
    * blocked only by a REJECTED sibling is DEFERRED, never lost — its
    * symbols were not fused this round, so the next round re-mines it
    * at the same count (modulo merges that genuinely consumed its
    * neighborhood) and the spec proves it lands. The cost of the
    * conservatism is therefore at most extra ROUNDS (counting passes),
    * never a different applied-merge semantics. */
  private[graft] def rfAcceptRound(cands: Seq[(String, Long)],
                                   remaining: Int): Seq[(String, Long)] = {
    val seen = scala.collection.mutable.Set.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val it = cands.iterator
    while (it.hasNext && accepted.size < remaining) {
      val (pair, n) = it.next()
      val Array(a, b) = pair.split(" ", 2)
      if (!seen(a) && !seen(b)) accepted += ((pair, n))
      // EVERY scanned (= higher-ranked) pair blocks later ones,
      // accepted or not — the oracle's NOT EXISTS, exactly
      seen += a; seen += b
    }
    accepted.toSeq
  }

  /** Bounded-prefix round acceptance (r20 verdict finding #4): decide a
    * t51 round from the top-`lim` ranked pairs only, escalating the
    * fetch when — and only when — exactness demands it. The prefix
    * decides identically to the full set iff the acceptance budget
    * filled inside it (rfAcceptRound never reads past its last
    * acceptance) or the prefix IS the full set (fetched < limit);
    * otherwise the limit grows ×8 and the round re-decides from
    * scratch, terminating at the full set. Driver memory is therefore
    * O(limit) on every real corpus (one fetch) with the unbounded
    * collect as the provably-identical worst case, never the default.
    * `fetch(lim)` must return the top-`lim` ranked candidates. */
  private[graft] def boundedRoundAccept(fetch: Int => Seq[(String, Long)],
                                        remaining: Int)
      : (Seq[(String, Long)], Boolean) = {
    var lim = math.max(64, 8 * remaining)
    var cands = fetch(lim)
    var accepted = rfAcceptRound(cands, remaining)
    while (cands.size == lim && accepted.size < remaining) {
      lim *= 8
      cands = fetch(lim)
      accepted = rfAcceptRound(cands, remaining)
    }
    (accepted, cands.isEmpty)
  }

  def t51_bpe_train(s: SparkSession, d: String): DataFrame = {
    val budget = 16
    val words = tokDocs(s, d)
      .select(explode(col("t")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .persist()
    try {
      var segExpr = "concat(' ', rtrim(regexp_replace(w, '(.)', '$1 ')), ' ')"
      // (round, merge_idx, pair, n)
      val learned =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, Long)]
      var round = 0
      var done = false
      while (learned.size < budget && !done) {
        round += 1
        val ranked = words
          .withColumn("syms", split(expr(s"trim($segExpr)"), " "))
          .filter(size(col("syms")) >= 2) // fully-fused words drop out
          .select(col("wc"), explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"))
            .as("pair"))
          .groupBy("pair").agg(sum(col("wc")).as("n"))
          .orderBy(desc("n"), col("pair"))
        // BOUNDED driver collect (r20 verdict finding #4): the pair
        // space is symbol-vocab² — bounded for this corpus's [a-z]+
        // domain but unbounded in general (a CJK alphabet would
        // collect millions of rows). boundedRoundAccept fetches a rank
        // prefix (a cheap TakeOrdered instead of a full sort+collect)
        // and escalates only when exactness demands it — see its
        // scaladoc; TextVectorSpec pins the prefix-equivalence lemma.
        val (accepted, exhausted) = boundedRoundAccept(
          lim => ranked.limit(lim).collect()
            .toSeq.map(r => (r.getString(0), r.getLong(1))),
          budget - learned.size)
        if (exhausted) done = true
        else {
          accepted.foreach { case (pair, n) =>
            learned += ((round, learned.size + 1, pair, n))
            segExpr =
              s"replace($segExpr, ' $pair ', ' ${pair.replace(" ", "")} ')"
          }
        }
      }
      val mass = words
        .select(sum(col("wc") *
          size(split(expr(s"trim($segExpr)"), " "))).cast("long").as("m"))
        .head.getLong(0)
      val sp = s; import sp.implicits._
      learned.toSeq.toDF("round", "merge_idx", "merge", "pair_weight")
        .withColumn("symbol", regexp_replace(col("merge"), " ", ""))
        .withColumn("final_token_mass", lit(mass))
        .select(col("round"), col("merge_idx"), col("merge"), col("symbol"),
          col("pair_weight").cast("long").as("pair_weight"),
          col("final_token_mass"))
        .orderBy("merge_idx")
    } finally { words.unpersist(): Unit }
  }

  /** T17: deterministic sampling — the training-data staple. Seeded
    * `sample`/`sampleBy` are reproducible only for a fixed input
    * partitioning and never cross-engine; hash-mod sampling
    * (hash(key) % 100 < rate) is exactly reproducible anywhere and
    * stable under repartitioning — the idiom that survives re-runs at
    * 100 TB. md5 is the hash here so DuckDB recomputes the identical
    * bucket (xxhash64 would be faster but has no DuckDB counterpart). */
  def t17_sampling(s: SparkSession, d: String): DataFrame = {
    val doc = tokDocs(s, d)
      .withColumn("bucket_md5",
        md5Bucket(col("doc_id")))
    doc.filter(col("bucket_md5") < 10) // 10% deterministic sample
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang")
  }

  /** T18: benchmark decontamination — the training-data hygiene step:
    * flag training docs sharing ≥ 5 distinct 3-gram shingles with any
    * benchmark doc. Benchmark = docs 0–20; "training set" = everything
    * else including the planted near-dup copies (ids +1,000,000), which
    * are guaranteed contamination. Scale shape: inverted-index equi-join
    * on the shingle — the benchmark side is tiny and broadcast, the
    * corpus side streams; never all-pairs, never a corpus shuffle. */
  def t18_decontaminate(s: SparkSession, d: String): DataFrame = {
    val base = shingledNearDups(s, d)
    val bench = base.filter(col("doc_id") <= 20)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("shingle"))
    val train = base.filter(col("doc_id") > 20)
      .select(col("doc_id").as("train_id"), explode(col("sh")).as("shingle"))
    train.join(broadcast(bench), Seq("shingle"))
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy("train_id", "bench_id")
  }

  private val emailRe = "[A-Za-z0-9._%-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+"
  private val phoneRe = "555-[0-9]{4}"

  /** T19: PII detection + redaction — regex scrub with an audit trail.
    * The synthetic corpus carries no PII, so deterministic addresses /
    * numbers are planted first (doc_id-keyed, so the oracle replants
    * identically); output = per-doc match counts, chars removed, and
    * the md5 of the redacted text so the oracle verifies the actual
    * scrubbed bytes, not just the counts. Per-row expressions only —
    * embarrassingly parallel at any scale. */
  def t19_pii_redact(s: SparkSession, d: String): DataFrame = {
    val planted = documents(s, d)
      .filter(col("doc_id") <= 300)
      .select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(""),
        when(col("doc_id") % 11 === 0, lit(" call 555-0199 now")).otherwise(""))
        .as("text"))
    val redacted = regexp_replace(regexp_replace(col("text"), emailRe, "[EMAIL]"),
      phoneRe, "[PHONE]")
    planted.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).as("n_phones"),
      (length(col("text")) - length(redacted)).as("chars_redacted"),
      md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** T20: near-dup clusters — connected components over the confirmed
    * pair graph (shared persisted stage with t4). Pairwise drop (T4b)
    * is correct only for star-shaped duplicates; chains A~B~C need the
    * transitive closure to pick ONE canonical per component. Hash-Min
    * label propagation: every node adopts the min doc_id reachable;
    * O(component diameter) supersteps, each one shuffle of (id, label)
    * pairs only — the standard MapReduce-CC shape that holds at 100 TB
    * (near-dup components are shallow: diameter is small even when the
    * corpus isn't). Output is the per-cluster summary, checksummed so
    * the oracle catches any membership difference. */
  def t20_dedup_clusters(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d, driverLimit = 500000L)

  /** Body of T20 with the hybrid gate exposed so tests can force the
    * distributed branch (`driverLimit < 0`: the gate is `nPairs <=
    * driverLimit`, so 0 still routes an EMPTY pair set to the local
    * branch — only a negative limit excludes every size) and assert
    * both paths agree. */
  private[graft] def dedupClusters(s: SparkSession, d: String,
                                   driverLimit: Long): DataFrame = {
    val pairs = minhashCandidatePairs(s, d).select(col("a_id"), col("b_id"))
    // Size-gated hybrid, the same design call as Spark's own broadcast
    // join: when the confirmed-pair set fits comfortably on the driver
    // (it is the NEAR-DUP EDGE set, already shrunk by LSH + Jaccard —
    // not the corpus), a local union-find computes the identical
    // fixpoint in microseconds instead of paying one Spark job per
    // Hash-Min superstep. Above the threshold the distributed loop
    // below runs unchanged — the gate bounds driver memory by a
    // constant, never by corpus size. Both paths produce the same
    // labels (component-min), so the oracle does not care which ran.
    val nPairs = pairs.count()
    if (nPairs <= driverLimit) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = parent.keysIterator.toSet ++ parent.valuesIterator
      val labeled = nodes.toSeq.map(id => (find(id), id))
      import s.implicits._
      return labeled.toDF("canonical_id", "id")
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("cluster_size"), sum(col("id")).as("member_checksum"))
        .orderBy("canonical_id")
    }
    t20LabelsMemo(s, d).groupBy(col("label").as("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"), sum(col("id")).as("member_checksum"))
      .orderBy("canonical_id")
  }

  /** Converged Hash-Min labels for the distributed T20 branch, memoized
    * per (session, corpus): the superstep loop materializes eagerly (one
    * `.first()` per iteration), so without the memo every invocation of
    * the distributed branch re-ran the whole fixpoint AND left its final
    * persisted frame behind (the q15 leak pattern). The memo owns the
    * converged frame's lifetime; intermediate supersteps still
    * persist/unpersist transiently inside the loop. */
  private val t20LabelsMemo = new FrameMemo("documents.parquet")(convergedLabels)

  private def convergedLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashCandidatePairs(s, d).select(col("a_id"), col("b_id"))
    val sym = pairs.unionByName(
      pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var labels = sym.select(col("a_id").as("id")).distinct()
      .withColumn("label", col("id")).persist(lvl)
    // per-node labels are monotonically non-increasing (new = min(own,
    // neighbors')), so the fixpoint test is one cheap aggregate: the
    // global label sum is unchanged iff NO node changed — no
    // prev-vs-next join needed.
    // coalesce: sum over an EMPTY labels frame is null (a dir with no
    // Jaccard-confirmed pairs at all) — without it .getLong NPEs
    var labelSum = labels.agg(coalesce(sum("label"), lit(0L))).first().getLong(0)
    var converged = false
    var iters = 0
    while (!converged && iters < 20) {
      // one superstep: a node's new label = min(own, neighbors' labels).
      // At real scale each superstep would checkpoint to cut lineage;
      // here persist+unpersist per step keeps the loop re-runnable.
      val viaNbr = sym.join(labels, sym("b_id") === labels("id"))
        .select(sym("a_id").as("id"), col("label"))
      val next = labels.unionByName(viaNbr)
        .groupBy("id").agg(min("label").as("label")).persist(lvl)
      val nextSum = next.agg(coalesce(sum("label"), lit(0L))).first().getLong(0)
      labels.unpersist(blocking = false)
      labels = next
      converged = nextSum == labelSum
      labelSum = nextSum
      iters += 1
    }
    // already persisted at lvl by the loop; the memo's own persist is a
    // same-entry no-op and hands lifetime management to the memo
    labels
  }

  /** T21: domain-mix quota sampling — per-source target rates (the
    * "mixture weights" step of training-data assembly: upsample rare
    * high-quality domains, downsample bulk ones). Same md5 hash-mod
    * bucket as T17 so selection is exactly reproducible anywhere and
    * stable under repartitioning; the quota is a pure function of the
    * source id, so the whole op is one scan + one small aggregate. */
  def t21_quota_sample(s: SparkSession, d: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
    val quota = when(srcNum % 4 === 0, 40)
      .when(srcNum % 4 === 1, 20)
      .when(srcNum % 4 === 2, 10)
      .otherwise(5)
    tokDocs(s, d)
      .withColumn("quota_pct", quota)
      .withColumn("bucket",
        md5Bucket(col("doc_id")))
      .groupBy("source", "quota_pct")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("quota_pct"), 1).otherwise(0)).as("n_sampled"),
        coalesce(sum(when(col("bucket") < col("quota_pct"), col("doc_id"))), lit(0L))
          .as("id_checksum"))
      .orderBy("source")
  }

  /** T22: int8 embedding quantization — the vector-store prep step:
    * symmetric per-vector scale (127 / max|x|), quantized lanes emitted
    * serialized so the oracle checks every lane, not just stats.
    * Per-row expressions only; at scale this is a map-only pass. */
  def t22_embed_quantize(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("max_abs", expr("array_max(transform(v, x -> abs(x)))"))
      // all-zero guard: max_abs = 0 would make x/max_abs NaN, which the
      // two engines cast differently (Spark int 0, DuckDB error) — a
      // zero vector quantizes to zeros with scale 0 on both
      .withColumn("q", expr(
        "IF(max_abs = 0.0d, transform(v, x -> 0), transform(v, x -> cast(round(x * 127.0d / max_abs) as int)))"))
      .select(col("vec_id"),
        round(col("max_abs"), 6).as("scale_max_abs"),
        expr("array_min(q)").as("q_min"),
        expr("array_max(q)").as("q_max"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
        concat_ws(",", col("q")).as("q_vec"))
      .orderBy("vec_id")

  /** T23: sequence packing — the training-data assembly step that
    * concatenates documents and chunks the token stream at a fixed
    * sequence length (GPT-style packing: docs spanning a boundary are
    * split across sequences). Docs pack independently per shard
    * (doc_id % 8), so at 100 TB the window cumsum runs per shard
    * partition — thousands of shards, no global-sort bottleneck — and
    * the layout is a pure function of (doc_id, n_tokens): reproducible
    * on any engine, stable under repartitioning. */
  def t23_seq_pack(s: SparkSession, d: String): DataFrame = {
    val seqLen = 256
    val w = Window.partitionBy("shard").orderBy("doc_id")
    tokDocs(s, d)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(col("t")).as("n_toks"))
      .withColumn("end_off", sum(col("n_toks")).over(w))
      .withColumn("first_seq", floor((col("end_off") - col("n_toks")) / seqLen))
      .withColumn("last_seq", floor((col("end_off") - 1) / seqLen))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        (max(col("last_seq")) + 1).as("n_seqs"),
        sum(when(col("last_seq") > col("first_seq"), 1).otherwise(0))
          .as("n_boundary_spanning"),
        sum(col("first_seq")).as("seq_checksum"))
      .orderBy("shard")
  }

  /** T24: within-document repetition filter (Gopher-style quality
    * rules): duplicate-token fraction and most-frequent-bigram fraction
    * per doc; docs exceeding either threshold are flagged. Thresholds
    * sit above the real corpus envelope (p95 dup 0.69 / top-bigram
    * 0.09, max 0.72 / 0.17 at sf0.01), so the planted degenerate docs
    * ("a b a b …", ids +2,000,000 for doc_id % 13 == 0) are guaranteed
    * catches. Per-doc bigram counting is a (doc_id, bigram)-keyed agg —
    * embarrassingly parallel, no cross-doc shuffle at any scale. */
  def t24_repetition_filter(s: SparkSession, d: String): DataFrame = {
    val real = tokDocs(s, d).select(col("doc_id"), col("text"), col("t"))
    // size >= 2 guard: a single-token source would make element_at(t, 2)
    // null, and Spark's concat_ws skips nulls while the oracle's ||
    // propagates them — the guard keeps both engines off that edge
    val planted = real
      .filter(col("doc_id") % 13 === 0 && size(col("t")) >= 2)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", expr(
          "array_repeat(concat_ws(' ', element_at(split(text, ' '), 1), element_at(split(text, ' '), 2)), 20)"))
          .as("text"))
      .select(col("doc_id"), toks(col("text")).as("t"))
    val docs = real.select(col("doc_id"), col("t")).unionByName(planted)
      .withColumn("n_toks", size(col("t")))
      .withColumn("n_distinct", size(array_distinct(col("t"))))
    val bigramStats = docs
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(bigrams("t")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
    docs.join(bigramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        round(lit(1.0) - col("n_distinct") / col("n_toks"), 6).as("dup_token_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        round(coalesce(col("top_bigram_n") / col("n_bigrams"), lit(0.0)), 6)
          .as("top_bigram_frac"))
      .withColumn("flagged",
        col("dup_token_frac") > 0.75 || col("top_bigram_frac") > 0.20)
      .orderBy("doc_id")
  }

  /** T25: k-means curation clustering (the SemDeDup / cluster-balanced
    * sampling step): two Lloyd iterations over the 64-dim embeddings,
    * deterministically seeded (centroids 0..7 = vecs 0..7) so the
    * result is a pure function of the data. Updated centroid lanes are
    * quantized to 6 decimals before re-assignment — that makes the
    * argmin decisions bit-identical across engines, which is what lets
    * an iterative float algorithm carry an exact DuckDB oracle at all.
    * Scale shape: centroids are k rows (broadcast); assignment is a
    * map-side crossJoin + per-vec argmin; the update is a
    * (cent_id, lane)-keyed avg — no all-pairs stage anywhere. */
  def t25_kmeans_curate(s: SparkSession, d: String): DataFrame = {
    val k = 8
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    def assign(cents: DataFrame): DataFrame = assignToCentroids(e, cents)
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cent_id"), posexplode(col("v")).as(Seq("lane", "x")))
        .groupBy("cent_id", "lane").agg(round(avg(col("x")), 6).as("m"))
        .groupBy("cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(lane, m))), p -> p.m)").as("cv"))
    val c0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val fin = assign(update(assign(c0)))
    fin.groupBy(col("cent_id").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("vec_id")).as("member_checksum"),
        round(avg(col("d2")), 4).as("avg_dist2"))
      .orderBy("cluster_id")
  }

  /** T26: semantic dedup (SemDeDup): partition the embedding space with
    * k-means-style centroid assignment, then run pairwise cosine ONLY
    * within each cluster and drop every vector whose near-identical
    * twin (cos ≥ 0.9999 after round-6, same comparison as T11) has a
    * smaller id. Corpus = embeddings ∪ planted ×1.001-scaled copies
    * (ids +1,000,000) so drops are guaranteed. The cluster bound is the
    * scale story: at 100 TB, k grows with the corpus so per-cluster
    * pair counts stay bounded — all-pairs never happens globally. */
  def t26_semantic_dedup(s: SparkSession, d: String): DataFrame = {
    val k = 8
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val pert = e.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("v"), x => x * 1.001).as("v"))
    val corpus = e.unionByName(pert)
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val assigned = assignToCentroids(corpus, cents)
      .select(col("vec_id"), col("v"), col("cent_id"))
    val a = assigned.select(col("cent_id"), col("vec_id").as("a_id"), col("v").as("av"),
      vnorm(col("v")).as("an"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("b_id"), col("v").as("bv"),
      vnorm(col("v")).as("bn"))
    val dropped = a.join(b, Seq("cent_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", round(cosineN(col("av"), col("bv"), col("an"), col("bn")), 6))
      .filter(col("cos_sim") >= 0.9999)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(1))
    assigned.join(dropped, Seq("vec_id"), "left")
      .groupBy(col("cent_id").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce(col("is_dup"), lit(0))).as("n_dropped"),
        coalesce(sum(when(col("is_dup").isNotNull, col("vec_id"))), lit(0L))
          .as("dropped_checksum"),
        coalesce(sum(when(col("is_dup").isNull, col("vec_id"))), lit(0L))
          .as("survivor_checksum"))
      .orderBy("cluster_id")
  }

  /** Shingle a (doc_id, text) frame: (doc_id, t, sh). Shared by T27's
    * index and batch sides. */
  private def shingled(df: DataFrame): DataFrame =
    df.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .withColumn("sh", shingle3(col("t")))

  /** T27's standing corpus index: (i_id, band, key) — what production
    * precomputes and stores bucketed by (band, key). private[graft] so
    * ScaleDesignSpec can prove the bucketed layout joins the ingest
    * batch with zero exchange on the corpus side. */
  private[graft] def minhashIndex(s: SparkSession, d: String): DataFrame =
    shingled(documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id").as("i_id"),
        posexplode(minhashBandKeys(col("sh"))).as(Seq("band", "key")))

  /** T27: incremental dedup — the daily-ingest production path: a NEW
    * batch of documents is checked against the standing corpus index
    * (shingle → minhash → band keys, same machinery as T4), without
    * ever re-comparing the corpus to itself. In production the index
    * side is precomputed and stored bucketed by (band, key); only the
    * batch is shingled at ingest, so daily cost scales with the batch,
    * not the corpus. Batch = near-dup copies of doc_id % 3 == 0 (last
    * token dropped, ids +1,000,000 — guaranteed catches) ∪ novel docs
    * (doc_id % 3 == 1 token-reversed, ids +2,000,000). Band join moves
    * ids only (T4 discipline); shingle sets rejoin once per side for
    * Jaccard ≥ 0.5 verification. */
  def t27_incremental_dedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val index = shingled(docs)
    val copies = nearDupCopy(docs.filter(col("doc_id") % 3 === 0))
    val novel = docs.filter(col("doc_id") % 3 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", reverse(toks(col("text")))).as("text"))
    val batch = shingled(copies.unionByName(novel))
    val ib = minhashIndex(s, d)
    val bb = batch.select(col("doc_id").as("b_id"),
      posexplode(minhashBandKeys(col("sh"))).as(Seq("band", "key")))
    val cand = bb.join(ib, Seq("band", "key"))
      .select(col("b_id"), col("i_id")).distinct()
    val verified = cand
      .join(batch.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .join(index.select(col("doc_id").as("i_id"), col("sh").as("i_sh")), Seq("i_id"))
      .select(col("b_id"), col("i_id"),
        round(size(array_intersect(col("b_sh"), col("i_sh"))).cast("double") /
          size(array_union(col("b_sh"), col("i_sh"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val perDoc = verified.groupBy("b_id")
      .agg(count(lit(1)).as("nm"), max(col("jaccard")).as("mx"),
        min(col("i_id")).as("best"))
    batch.select(col("doc_id").as("b_id"))
      .join(perDoc, Seq("b_id"), "left")
      .select(col("b_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        coalesce(col("mx"), lit(0.0)).as("max_jaccard"),
        coalesce(col("best"), lit(-1L)).as("best_match"),
        (coalesce(col("nm"), lit(0L)) > 0).as("is_dup"))
      .orderBy("b_id")
  }

  /** T28: heavy hitters via count-min sketch — the frequency sketch that
    * answers "top tokens" at 100 TB in one pass with bounded memory
    * (~1.6 MB for eps=1e-4, conf=0.999), the companion to A4's HLL.
    * Deterministic (fixed seed, fixed data ⇒ fixed sketch), so the CMS
    * guarantees — never underestimates; overestimates by ≤ eps·N with
    * confidence — fold into an oracle-checkable boolean per token
    * (same pattern as a4): DuckDB has no CMS, but it can verify the
    * exact counts and that every bound held. The sketch is queried
    * in-plan (1-row broadcast crossJoin + UDF), no driver-side state. */
  def t28_heavy_hitters(s: SparkSession, d: String): DataFrame = {
    val tokens = tokDocs(s, d).select(explode(col("t")).as("token"))
    // the exact side IS t1_term_freq — reuse it so the two ops (and the
    // rank-agreement test between them) cannot drift
    val exact = t1_term_freq(s, d).withColumnRenamed("n", "n_exact")
    val sk = tokens.agg(
      count_min_sketch(col("token"), lit(0.0001), lit(0.999), lit(42)).as("sk"),
      count(lit(1)).as("n_total"))
    val est = udf((sk: Array[Byte], token: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sk)).estimateCount(token))
    exact.crossJoin(broadcast(sk))
      .withColumn("n_est", est(col("sk"), col("token")))
      .select(col("token"), col("n_exact"),
        (col("n_est") >= col("n_exact") &&
          col("n_est") <= col("n_exact") + ceil(lit(0.0001) * col("n_total")).cast("bigint"))
          .as("within_bound"))
      .orderBy(col("n_exact").desc, col("token").asc)
  }

  /** Compiled 8-token gram enumeration (T29): element i (0-based) is the
    * gram covering tokens [i+1, i+8] 1-based — positions come free from
    * posexplode. Same compiled-UDF-over-interpreted-HOF call as shingle3:
    * gram enumeration is the T29 hot loop. */
  private val grams8 = udf((ts: Seq[String]) => {
    val n = ts.length - 7
    if (n <= 0) Seq.empty[String]
    else (0 until n).map(i => ts.slice(i, i + 8).mkString(" "))
  })

  /** T29: exact SUBSTRING dedup — document-level dedup (T3) and near-dup
    * dedup (T4) both miss the real failure mode of web corpora: long
    * verbatim passages quoted inside otherwise-distinct documents
    * (licenses, boilerplate, quotations). Flag every maximal token span
    * whose 8-gram content occurs more than once anywhere in the corpus —
    * the substring granularity of Lee et al. 2021 ("Deduplicating
    * Training Data Makes Language Models Better"), re-expressed as
    * relational ops instead of a suffix array. Corpus = documents ∪
    * planted quote docs (ids +3,000,000) embedding a 10-token interior
    * slice of their source between unique sentinel tokens — guaranteed
    * cross-doc duplicated spans; natural low-entropy repeats are caught
    * too. Scale shape: gram enumeration is generator-local (never
    * shuffled); the corpus-wide shuffle carries only (md5, doc_id, pos);
    * span assembly is a per-doc gaps-and-islands window. */
  def t29_substring_dedup(s: SparkSession, d: String): DataFrame = {
    val docs = tokDocs(s, d).select(col("doc_id"), col("t"))
    val quotes = docs
      .filter(col("doc_id") % 5 === 0 && size(col("t")) >= 13)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ",
          concat(lit("uqp"), col("doc_id").cast("string")),
          concat_ws(" ", slice(col("t"), 3, 10)),
          concat(lit("uqs"), col("doc_id").cast("string"))).as("text"))
      .select(col("doc_id"), toks(col("text")).as("t"))
    val corpus = docs.unionByName(quotes).filter(size(col("t")) >= 8)
    val grams = corpus
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        posexplode(grams8(col("t"))).as(Seq("pos0", "gram")))
      .select(col("doc_id"), col("n_tokens"),
        // unhex(md5) — a bijection on hex digests, so the duplicate
        // grouping is IDENTICAL to the oracle's md5-string form while
        // the corpus-wide shuffle key drops from a 32-char string to
        // 16 bytes (guide §2.3 "shuffle fewer bytes"): this exchange
        // carries every gram of the corpus, its key is most of the row
        (col("pos0") + 1).as("pos"), unhex(md5(col("gram"))).as("h"))
    // duplicated = the gram's hash occurs >1 time corpus-wide (including
    // within one doc — a self-repeating doc is still duplicated text)
    val dup = grams
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("n_occ") > 1)
    // gaps-and-islands: a duplicated gram at pos covers [pos, pos+7];
    // islands merge overlapping or touching covers (pos ≤ prev + 8)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dup
      .withColumn("prev", lag(col("pos"), 1).over(wDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + 8, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(wDoc))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(7)).as("span_end"))
    spans.groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_end") - col("span_start") + 1).as("n_dup_tokens"))
      .withColumn("dup_fraction",
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 4))
      .orderBy("doc_id")
  }

  /** T30: LM-perplexity quality filter — the CCNet recipe: score every
    * document by a language model trained on a REFERENCE corpus and drop
    * the high-perplexity tail. The LM here is add-one-smoothed unigram
    * — trained entirely in-plan (one token-count aggregate over the
    * clean corpus); the scored corpus is documents ∪ planted gibberish
    * docs (ids +4,000,000, all-OOV tokens — guaranteed flags, since OOV
    * scores at the smoothing floor 1/(N+V)). Scale shape: the vocabulary
    * is tiny relative to any corpus (token types, not instances) and
    * broadcast; scoring is explode → broadcast-join → per-doc avg, so
    * the only corpus-wide shuffle is the final doc_id aggregation. */
  def t30_lm_quality(s: SparkSession, d: String): DataFrame = {
    val docs = tokDocs(s, d).select(col("doc_id"), col("t"))
    val junkText = (0 until 20).map("zq" + _).mkString(" ")
    val scored = docs.unionByName(
      docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          toks(lit(junkText)).as("t")))
    val vocab = docs.select(explode(col("t")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val stats = vocab.agg(sum(col("c")).as("n_total"),
      count(lit(1)).as("v_size"))
    scored.select(col("doc_id"), explode(col("t")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("neglogp",
        -log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("n_total") + col("v_size"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("neglogp")), 4).as("avg_neglogp"))
      .withColumn("is_low_quality", col("avg_neglogp") > 6.0)
      .orderBy("doc_id")
  }

  /** T31: product-quantization ANN — the vector-store compression path
    * next to T6b's IVF pruning path: each 64-dim vector becomes m=4
    * one-byte codes (one per 16-dim subspace, nearest of 8 codewords),
    * a 64× memory cut, and queries rank candidates by Asymmetric
    * Distance Computation — the query's partial distance to every
    * codeword is precomputed (a 4×16 table per query) and candidate
    * distance is 4 table lookups summed, never touching the original
    * vectors. Production PQ is two-stage, and so is this: the ADC pass
    * shortlists 100 candidates per query, then ONLY the shortlist is
    * reranked with exact distances — the corpus vectors are touched for
    * 100 rows per query, not N. Codebooks are deterministically seeded
    * (codeword c of subspace j = vector c's j-th subvector — T6b's
    * stand-in-for-k-means trick) and refined by ONE Lloyd step with the
    * updated codeword lanes quantized to 6 decimals — T25's
    * exact-cross-engine-iteration pattern, per subspace. Scale shape:
    * encoding is a broadcast-codebook crossJoin with map-side partial
    * min (the shuffle carries (vec_id, j, code) — never subvectors);
    * the codebook update is a (j, code, lane)-keyed avg; the ADC table
    * is broadcast; the rerank joins a tiny id shortlist back to the
    * corpus. Shortlist recall vs the exact baseline is measured in
    * TextVectorSpec. */
  /** Per-(vec, subspace) slices feeding T31: the frame feeds the seed
    * codebook, BOTH Lloyd assignment passes, and the query-side ADC
    * table — without materialization the optimizer re-derives it per
    * consumer (16 scans of the table in one plan). Memoized per
    * (session, corpus) — the "materialize the encode input" step of a
    * real PQ build — so repeat invocations share one owned entry
    * instead of leaning on CacheManager plan-dedup. */
  private val t31SubsMemo = new FrameMemo("embeddings.parquet")((s, d) =>
    embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 3), j -> named_struct('j', j, 'sv', slice(v, j*16+1, 16)))")).as("s"))
      .select(col("vec_id"), col("s.j").cast("int").as("j"), col("s.sv").as("sv")))

  /** MAP-ONLY PQ encode (r22, guide §2.4 "remove shuffles outright"):
    * per (vec, subspace), the code minimizing squared L2 against the
    * DRIVER-HELD codebook — the compiled argmin closes over the
    * per-subspace codeword tables (codes ascending), d2 accumulated
    * left-to-right (`s += d*d`) like the graft_l2sq kernel, ties to
    * the LOWEST code — exactly the former
    * `min_by(struct(code, sv), struct(d2, code))` join-fan-out form,
    * which exploded the corpus ×k and paid a Sort+SortAggregate
    * exchange per assignment pass (3 passes in the t31 plan). Encoding
    * is a pure projection: at the 100 TB design point PQ encode must
    * run at scan speed, which this does. Equivalent for equal widths
    * (all 16 lanes): a width-mismatched codeword is skipped here, but
    * would have won under min_by (its NULL d2 sorts first). Equivalence
    * is spec-pinned in TextVectorSpec. */
  private[graft] def pqEncode(subs: DataFrame,
                              cbRows: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val byJ: Map[Int, (Array[Int], Array[Array[Double]])] =
      cbRows.groupBy(_._1).map { case (j, rs) =>
        val sorted = rs.sortBy(_._2)
        (j, (sorted.map(_._2).toArray, sorted.map(_._3.toArray).toArray))
      }
    val nearest = udf((j: Int, sv: Seq[Double]) => {
      val tbl = byJ.getOrElse(j, null)
      if (sv == null || tbl == null) null
      else {
        val (codes, cws) = tbl
        var best: java.lang.Integer = null
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cws.length) {
          val cw = cws(c)
          if (cw.length == sv.length) {
            var s = 0.0
            var i = 0
            while (i < sv.length) {
              val dd = sv(i) - cw(i); s += dd * dd; i += 1
            }
            if (s < bestD) { bestD = s; best = codes(c) }
          }
          c += 1
        }
        best
      }
    })
    subs.select(col("vec_id"), col("j"), col("sv"),
      nearest(col("j"), col("sv")).as("code"))
  }

  def t31_pq_ann(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val subs = t31SubsMemo(s, d)
    // The codebook is O(m×k) BY CONSTRUCTION — 4 subspaces × 16
    // codewords × 16 lanes at ANY corpus size (the PQ design constant,
    // like t51's merge budget) — so it lives on the driver, exactly
    // where a production PQ trainer holds it. Each training step is one
    // bounded 64-row collect; encoding closes over the codebook and is
    // a pure projection (pqEncode — no join, no exchange, no plan
    // duplication: the lazy form re-derived the Lloyd subtree once per
    // consumer and paid an ObjectHashAggregate exchange per
    // re-derivation).
    def collectCb(cb: DataFrame): Seq[(Int, Int, Seq[Double])] =
      cb.collect().toSeq.map(r =>
        (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    def encode(cbRows: Seq[(Int, Int, Seq[Double])]): DataFrame =
      pqEncode(subs, cbRows)
    val cb0 = collectCb(subs.filter(col("vec_id") < 16)
      .select(col("j"), col("vec_id").cast("int").as("code"), col("sv").as("cw")))
    // one Lloyd step: codeword = lane-wise mean of its members, rounded
    // to 6 decimals so downstream argmin decisions are cross-engine
    // exact (every seed is its own member at distance 0 — no empty code)
    val cb1 = collectCb(encode(cb0)
      .select(col("j"), col("code"), posexplode(col("sv")).as(Seq("lane", "x")))
      .groupBy("j", "code", "lane").agg(round(avg(col("x")), 6).as("m"))
      .groupBy("j", "code")
      .agg(expr("transform(array_sort(collect_list(struct(lane, m))), p -> p.m)").as("cw")))
    val enc = encode(cb1).select(col("vec_id"), col("j"), col("code"))
    val dt = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("j"), col("sv").as("qsv"))
      .join(broadcast(cb1.toDF("j", "code", "cw")), Seq("j"))
      .select(col("q_id"), col("j"), col("code"),
        l2sq(col("qsv"), col("cw")).as("pd"))
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("c_id").asc)
    val shortlist = enc.join(broadcast(dt), Seq("j", "code"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("pd"))
      .groupBy("q_id", "c_id")
      .agg(round(sum(col("pd")), 6).as("adist"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= 100)
      .select(col("q_id"), col("c_id"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("d2x").asc, col("c_id").asc)
    shortlist
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .join(e.select(col("vec_id").as("c_id"), col("v").as("cv")), Seq("c_id"))
      .withColumn("d2x", round(l2sq(col("qv"), col("cv")), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"),
        round(col("d2x"), 4).as("l2_dist"))
      .orderBy("q_id", "rnk")
  }

  /** T32: URL/domain filtering — the RefinedWeb/C4 front-door step:
    * parse each document's source URL, extract host / path / query
    * parts (`parse_url`, codegen'd), and drop every document whose
    * domain is on a blocklist via a broadcast LEFT ANTI join — the
    * relational form of "filter by domain" that never shuffles the
    * corpus (blocklists are thousands of domains; the corpus streams
    * past a broadcast hash table). The corpus carries no URLs, so they
    * are synthesized deterministically from (source, doc_id, lang) —
    * f2's planted-filename pattern — and the oracle re-derives the same
    * parts by regex. Blocklist = every domain whose source number is
    * ≡ 0 (mod 5), derived in-plan from the corpus itself. */
  def t32_url_filter(s: SparkSession, d: String): DataFrame = {
    val tld = element_at(array(lit("com"), lit("org"), lit("net")),
      (col("doc_id") % 3 + 1).cast("int"))
    val docs = documents(s, d)
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example."), tld, lit("/docs/"), col("doc_id").cast("string"),
        lit("?ref="), col("lang")))
      .withColumn("host", expr("parse_url(url, 'HOST')"))
      .withColumn("path", expr("parse_url(url, 'PATH')"))
      .withColumn("ref", expr("parse_url(url, 'QUERY', 'ref')"))
    val blocklist = docs.select(col("host")).distinct()
      .filter(regexp_extract(col("host"), "src(\\d+)", 1).cast("int") % 5 === 0)
    docs.join(broadcast(blocklist), Seq("host"), "left_anti")
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_checksum"),
        countDistinct(col("ref")).as("n_ref_langs"),
        sum(when(col("path") === concat(lit("/docs/"),
          col("doc_id").cast("string")), 1).otherwise(0)).as("n_path_ok"))
      .orderBy("host")
  }

  /** T33: Bloom-filter decontamination — T18's hygiene check behind a
    * membership SKETCH instead of the exact broadcast join. At 100 TB the
    * exact path ships the full benchmark shingle SET to every executor;
    * the Bloom filter is a constant-size bitmap (fpp-controlled) built in
    * ONE aggregation pass inside a scalar subquery and probed by the
    * codegen'd `might_contain`, which deserializes it once per task — the
    * classic sketch trade, completing the family: A4 HyperLogLog
    * (cardinality), T28 count-min (frequency), T33 Bloom (membership).
    * The exact join stays in-plan as the verification harness for the
    * sketch's contract: per training doc, every exactly-contaminated
    * shingle MUST bloom-hit (no false negatives — `bloom_consistent`
    * folds the guarantee into an oracle-checkable boolean, the a4/t28
    * pattern; an empty bench side's NULL filter hits nothing exactly),
    * while false positives only ever ADD candidate hits. */
  def t33_bloom_decontaminate(s: SparkSession, d: String): DataFrame = {
    import graft.functions.BloomFilterAgg
    val base = shingledNearDups(s, d)
    val bench = base.filter(col("doc_id") <= 20)
      .select(explode(col("sh")).as("shingle"))
    val bf = BloomFilterAgg.build(bench, "shingle", 100000L, 0.01)
    val benchSet = bench.distinct().withColumn("exact_hit", lit(true))
    val train = base.filter(col("doc_id") > 20)
      .select(col("doc_id").as("train_id"), explode(col("sh")).as("shingle"))
    train.join(broadcast(benchSet), Seq("shingle"), "left")
      .withColumn("bloom_hit", BloomFilterAgg.mightContain(bf, col("shingle")))
      .groupBy("train_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_exact_hits"),
        min(when(col("exact_hit").isNull || col("bloom_hit"), true)
          .otherwise(false)).as("bloom_consistent"))
      .orderBy("train_id")
  }

  /** T27 at streaming granularity: incremental dedup of a continuously
    * arriving doc stream against the STATIC standing minhash index —
    * shingle/band the stream per-row, two stream-static inner joins
    * (bands → index buckets, then the index side's 8-lane signatures),
    * append mode. Completely STATELESS on the stream side: dedup state
    * lives in the (bucketed) index, not in streaming state, so there is
    * no watermark to tune and no state store to grow — the streaming
    * twin of the batch t27 path, covered by an equivalence test in
    * StreamingSpec.
    *
    * Payload discipline: the ×4 band explode carries (b_id, b_ln) — the
    * 8-lane minhash signature (96 hex chars), already computed to build
    * the band keys; NOT the text (~3× larger) and NOT the shingle set
    * (~10×). Jaccard is ESTIMATED in-stream as the lane-agreement
    * fraction (the textbook minhash estimator — each lane agrees with
    * probability J); the stream emits every band-collision candidate
    * with its estimate and the EXACT verify is the batch t27 path's job
    * on the tiny candidate set — the split that keeps the stream both
    * slim and stateless. Band multiplicity preserved (distinct is the
    * consumer's aggregation concern). */
  def streamingIncrementalDedup(newDocs: DataFrame, s: SparkSession, d: String): DataFrame = {
    val bBands = newDocs
      .select(col("doc_id").as("b_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("b_id"), minhashLanes(shingle3(col("t"))).as("b_ln"))
      .select(col("b_id"), col("b_ln"), posexplode(expr(
        "transform(sequence(0, 3), b -> concat(element_at(b_ln, 2*b+1), element_at(b_ln, 2*b+2)))"))
        .as(Seq("band", "key")))
    val iLanes = shingled(documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id").as("i_id"), minhashLanes(col("sh")).as("i_ln"))
    bBands.join(minhashIndex(s, d), Seq("band", "key"))
      .join(iLanes, Seq("i_id"))
      .select(col("b_id"), col("i_id"), expr(
        "size(filter(zip_with(b_ln, i_ln, (x, y) -> x = y), z -> z)) / 8.0d")
        .as("est_jaccard"))
  }

  /** T34: RAG chunking — split every document into overlapping token
    * windows (window 32, stride 24, overlap 8), the retrieval-corpus
    * prep step between cleaning and embedding. Chunk layout is a pure
    * function of (doc_id, n_tokens) — reproducible on any engine and
    * any partitioning, like T17/T23. Tail windows that would carry only
    * already-seen overlap tokens (start + overlap ≥ n) are suppressed,
    * so every emitted chunk contributes new content. Scale shape: one
    * scan, generator-local explode (sequence → posexplode), zero
    * shuffle before the final presentation sort; chunk text leaves the
    * operator as md5 — the wide column stays inside the stage. */
  def t34_chunk(s: SparkSession, d: String): DataFrame = {
    val docs = tokDocs(s, d)
      .select(col("doc_id"), col("t"))
      .withColumn("n", size(col("t")))
    docs
      .select(col("doc_id"), col("n"), col("t"),
        explode(sequence(lit(0), col("n") - 1, lit(24))).as("start"))
      .filter(col("start") === 0 || col("start") + 8 < col("n"))
      .withColumn("chunk", slice(col("t"), col("start") + 1, lit(32)))
      .select(col("doc_id"),
        (col("start") / 24).cast("int").as("chunk_id"),
        col("start"),
        size(col("chunk")).as("chunk_len"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** T35: BM25 ranked retrieval — the lexical-search side of the
    * similarity family (T5/T6/T31 are the vector side): Okapi BM25
    * (k1=1.2, b=0.75, Lucene's always-positive idf) over an in-plan
    * query-term set (the 5 rarest tokens by document frequency,
    * token-tiebroken — deterministic; the synthetic vocab has no
    * natural query). Scale shape: the corpus explodes to (doc, token)
    * once, is immediately filtered to query terms by a broadcast semi
    * join (5 rows), and only then aggregates — the shuffle carries
    * ~5 tf rows per matching doc, never the token stream; df/N/avgdl
    * stats ride along as broadcast single-row frames. Scores are
    * rounded to 6dp BEFORE ranking so cross-engine float drift cannot
    * reorder ties (t25's quantize-then-compare pattern). */
  def t35_bm25(s: SparkSession, d: String): DataFrame = {
    val docs = tokDocs(s, d)
      .select(col("doc_id"), col("t"))
      .withColumn("dl", size(col("t")))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tokens = docs.select(col("doc_id"), col("dl"),
      explode(col("t")).as("token"))
    val df = tokens.groupBy("token")
      .agg(countDistinct(col("doc_id")).as("df"))
    val qterms = df
      .orderBy(col("df").asc, col("token").asc).limit(5)
    val tf = tokens.join(broadcast(qterms), Seq("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"), col("df"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // top-20 via sort+limit (TakeOrderedAndProject — O(k) per partition,
    // no global window); row_number then ranks the 20-row result only.
    // The unpartitioned window is INTENTIONAL and bounded: its input is
    // the 20-row limit above, so WindowExec's single-partition warning
    // does not indicate a scale hazard here (Bench squelches the logger).
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    tf.crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("part",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("part")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(20)
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("rnk"), round(col("score"), 4).as("score"))
      .orderBy("rnk")
  }

  /** T36: leakage-safe dataset split — train/val/test assignment keyed
    * on the GROUP (source), not the row: every document inherits its
    * source's md5 bucket (80/10/10), so no source ever spans two splits
    * — the group-level leakage that row-wise random splits cause in
    * training pipelines (same site/author in train AND test). The
    * no-leakage contract is verified in-plan (max distinct splits per
    * source, folded into a boolean) rather than trusted by
    * construction. Scale shape: split is a pure function of the source
    * string (T17/T21's hash-mod idiom) — no lookup table, no shuffle
    * for assignment; only the audit aggregates shuffle. */
  def t36_leakage_split(s: SparkSession, d: String): DataFrame = {
    val doc = tokDocs(s, d).withColumn("split",
      when(md5Bucket(col("source")) < 80, "train")
        .when(md5Bucket(col("source")) < 90, "val").otherwise("test"))
    val leak = doc.groupBy(col("source"))
      .agg(countDistinct(col("split")).as("ns"))
      .agg(max(col("ns")).as("max_splits_per_source"))
    doc.groupBy(col("split"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_checksum"))
      .crossJoin(broadcast(leak))
      .withColumn("leakage_free", col("max_splits_per_source") === 1)
      .select("split", "n_sources", "n_docs", "id_checksum", "leakage_free")
      .orderBy("split")
  }

  /** T37: hard-negative mining — the contrastive-training counterpart
    * of T6: for each query vector, the top-5 corpus vectors inside a
    * similarity BAND (0.25 ≤ cos ≤ 0.5 on this corpus) — similar
    * enough to be informative negatives, far enough to not be
    * near-duplicates (the band T26 would drop starts at 0.9999).
    * Identical scale shape to T6 — the small query side broadcasts
    * (pinned with an explicit `broadcast(q)`: under
    * `autoBroadcastJoinThreshold=-1` — a setting j2 documents as
    * legitimate — JoinSelection would otherwise pick CartesianProduct
    * with the CORPUS on one side; plan-asserted in TextVectorSpec),
    * the corpus streams past it unshuffled, and the band filter prunes
    * before the per-query top-k window; the cosine is the
    * precomputed-norm form (cosineN — bit-identical to the fused
    * kernel, same left-to-right lane order), so the band boundaries
    * are safe without quantization. */
  def t37_hard_negatives(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), vecD(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), vnorm(col("v")).as("qn"))
    val c = e.select(col("vec_id").as("c_id"), col("v").as("cv"), vnorm(col("v")).as("cn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosineN(col("qv"), col("cv"), col("qn"), col("cn")).as("sim"))
      .filter(col("sim") >= 0.25 && col("sim") <= 0.5)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("c_id"), round(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** T38: kNN label vote — classification by retrieval, the labeled-
    * data counterpart of T6: the first 50 vectors play "unlabeled"
    * queries, each classified by majority vote of its 5 nearest
    * labeled neighbors (cosine; count-desc/label-asc tiebreak makes the
    * vote deterministic). Auto-labeling corpora from a small seed set
    * is exactly this operator at 100 TB. Scale shape: T6's broadcast
    * query side (pinned — see t37's note on why auto-broadcast alone
    * is not enough) + per-query top-k window, then the vote is a
    * (q, label)-keyed count over 5 rows per query — the corpus is
    * touched once, the vote frame is tiny. */
  def t38_knn_classify(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"),
      vecD(col("embedding")).as("v"), col("label"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("true_label"), vnorm(col("v")).as("qn"))
    val train = e.filter(col("vec_id") >= 50)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("label"),
        vnorm(col("v")).as("cn"))
    val wNN = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val votes = broadcast(q).crossJoin(train)
      .select(col("q_id"), col("true_label"), col("c_id"), col("label"),
        cosineN(col("qv"), col("cv"), col("qn"), col("cn")).as("sim"))
      .withColumn("rnk", row_number().over(wNN))
      .filter(col("rnk") <= 5)
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    votes.withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"),
        col("label").as("predicted"), col("n_votes"),
        (col("label") === col("true_label")).as("correct"))
      .orderBy("q_id")
  }

  /** T39: inverted index build + AND-query — the retrieval index the
    * lexical family (T8/T35) implies but never materializes: per-token
    * sorted posting lists (collect_set → sort_array), document
    * frequency alongside; the conjunctive query ("both of the two
    * rarest terms") is answered by intersecting exactly TWO posting
    * rows — the corpus is not touched at query time, which is the
    * point of an index. The ranking window runs over the VOCABULARY
    * (token types — bounded by language, not corpus size; T30's
    * argument), so the global window is a bounded frame, not a scale
    * hazard. Posting lists are per-token arrays: at 100 TB the head
    * token's list is large but each list lives in ONE row of a
    * token-partitioned table — the classic sharded-postings layout. */
  def t39_inverted_index(s: SparkSession, d: String): DataFrame = {
    val tok = tokDocs(s, d)
      .select(col("doc_id"), explode(array_distinct(col("t"))).as("token"))
    val postings = tok.groupBy("token")
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"),
        count(lit(1)).as("df"))
    // unpartitioned window, INTENTIONALLY: it ranks the VOCABULARY
    // (token types — bounded by language, not corpus size; scaladoc
    // above), so the single partition holds thousands of rows at any SF
    val ranked = postings.withColumn("r",
      row_number().over(Window.orderBy(col("df").asc, col("token").asc)))
    val a = ranked.filter(col("r") === 1)
      .select(col("token").as("term_a"), col("docs").as("docs_a"))
    val b = ranked.filter(col("r") === 2)
      .select(col("token").as("term_b"), col("docs").as("docs_b"))
    a.crossJoin(b)
      .select(col("term_a"), col("term_b"),
        explode(array_intersect(col("docs_a"), col("docs_b"))).as("doc_id"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_term_freq" -> (t1_term_freq _),
    "t2_ngrams" -> (t2_ngrams _),
    "t3_exact_dedup" -> (t3_exact_dedup _),
    "t4_minhash_lsh" -> (t4_minhash_lsh _),
    "t4_dedup_canonical" -> (t4_dedup_canonical _),
    "t5_cosine" -> (t5_cosine _),
    "t6_topk_nn" -> (t6_topk_nn _),
    "t6_topk_nn_ivf" -> (t6_topk_nn_ivf _),
    "t7_profile" -> (t7_profile _),
    "t8_tfidf" -> (t8_tfidf _),
    "t10_simhash" -> (t10_simhash _),
    "t11_embed_neardup" -> (t11_embed_neardup _),
    "t12_jaccard" -> (t12_jaccard _),
    "t13_langid" -> (t13_langid _),
    "t14_quality" -> (t14_quality _),
    "t15_token_count" -> (t15_token_count _),
    "t16_fingerprint" -> (t16_fingerprint _),
    "t49_bpe_merges" -> (t49_bpe_merges _),
    "t50_bpe_apply" -> (t50_bpe_apply _),
    "t51_bpe_train" -> (t51_bpe_train _),
    "t17_sampling" -> (t17_sampling _),
    "t18_decontaminate" -> (t18_decontaminate _),
    "t19_pii_redact" -> (t19_pii_redact _),
    "t20_dedup_clusters" -> (t20_dedup_clusters _),
    "t21_quota_sample" -> (t21_quota_sample _),
    "t22_embed_quantize" -> (t22_embed_quantize _),
    "t23_seq_pack" -> (t23_seq_pack _),
    "t24_repetition_filter" -> (t24_repetition_filter _),
    "t25_kmeans_curate" -> (t25_kmeans_curate _),
    "t26_semantic_dedup" -> (t26_semantic_dedup _),
    "t27_incremental_dedup" -> (t27_incremental_dedup _),
    "t28_heavy_hitters" -> (t28_heavy_hitters _),
    "t29_substring_dedup" -> (t29_substring_dedup _),
    "t30_lm_quality" -> (t30_lm_quality _),
    "t31_pq_ann" -> (t31_pq_ann _),
    "t32_url_filter" -> (t32_url_filter _),
    "t33_bloom_decontaminate" -> (t33_bloom_decontaminate _),
    "t34_chunk" -> (t34_chunk _),
    "t35_bm25" -> (t35_bm25 _),
    "t36_leakage_split" -> (t36_leakage_split _),
    "t37_hard_negatives" -> (t37_hard_negatives _),
    "t38_knn_classify" -> (t38_knn_classify _),
    "t39_inverted_index" -> (t39_inverted_index _),
  )

  val oracle: Map[String, String] = Map(
    "t1_term_freq" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""",
    "t2_ngrams" ->
      """SELECT bigram, count(*) AS n FROM (
           SELECT unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS bigram
           FROM (SELECT string_split(text, ' ') AS t FROM documents)
           WHERE len(t) >= 2)
         GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""",
    "t3_exact_dedup" ->
      """SELECT count(*) AS n_rows, count(DISTINCT h) AS n_distinct FROM (
           SELECT md5(lower(trim(text))) AS h FROM
             (SELECT text FROM documents UNION ALL SELECT text FROM documents))""",
    "t4_minhash_lsh" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '\s+\S+$', '') FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
           WHERE len(t) >= 3),
         sig AS (
           SELECT doc_id, sh, list_transform(range(0, 8),
             k -> list_min(list_transform(ms, m -> substr(m || m, CAST(k*3+1 AS INTEGER), 12)))) AS mh
           FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS ms FROM sh)),
         bands AS (
           SELECT doc_id, sh, unnest(list_transform(range(0, 4),
             b -> {band: b, key: mh[2*b+1] || mh[2*b+2]}), recursive := true)
           FROM sig)
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
           AND a.doc_id < b.doc_id
         WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
         ORDER BY a_id, b_id""",
    "t4_dedup_canonical" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '\s+\S+$', '') FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
           WHERE len(t) >= 3),
         sig AS (
           SELECT doc_id, sh, list_transform(range(0, 8),
             k -> list_min(list_transform(ms, m -> substr(m || m, CAST(k*3+1 AS INTEGER), 12)))) AS mh
           FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS ms FROM sh)),
         bands AS (
           SELECT doc_id, sh, unnest(list_transform(range(0, 4),
             b -> {band: b, key: mh[2*b+1] || mh[2*b+2]}), recursive := true)
           FROM sig),
         dups AS (
           SELECT DISTINCT b.doc_id AS doc_id
           FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5),
         survivors AS (
           SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM dups))
         SELECT (SELECT count(*) FROM corpus) AS n_total,
           count(*) AS n_survivors,
           (SELECT count(*) FROM corpus) - count(*) AS n_dropped,
           CAST(sum(doc_id) AS BIGINT) AS survivor_checksum
         FROM survivors""",
    "t5_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           round(list_inner_product(q.v, c.v) /
             (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 4) AS cos_sim
         FROM e q JOIN e c ON q.vec_id < c.vec_id
         WHERE q.vec_id < 20
           AND round(list_inner_product(q.v, c.v) /
             (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 4) > 0.2
         ORDER BY q_id, c_id""",
    "t6_topk_nn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sims AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_inner_product(q.v, c.v) /
               (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS sim
           FROM e q JOIN e c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10),
         ranked AS (
           SELECT q_id, c_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rnk
           FROM sims)
         SELECT q_id, CAST(rnk AS INT) AS rnk, c_id, round(sim, 4) AS cos_sim
         FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "t6_topk_nn_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
         asg AS (
           SELECT vec_id, v, cent_id FROM (
             SELECT e.vec_id, e.v, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_inner_product(e.v, c.cv) /
                   (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv))) DESC,
                 c.cent_id ASC) AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         sims AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_inner_product(q.v, c.v) /
               (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS sim
           FROM asg q JOIN asg c ON q.cent_id = c.cent_id AND q.vec_id != c.vec_id
           WHERE q.vec_id < 10),
         r AS (SELECT q_id, c_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rnk FROM sims)
         SELECT q_id, CAST(rnk AS INT) AS rnk, c_id, round(sim, 4) AS cos_sim
         FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "t7_profile" ->
      """SELECT lang, source, count(*) AS n_docs,
         round(avg(n_chars), 4) AS avg_chars,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_bounds
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "t8_tfidf" ->
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
           GROUP BY doc_id, term),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
         FROM tf JOIN df USING (term) CROSS JOIN n
         ORDER BY tfidf DESC, doc_id ASC, term ASC LIMIT 50""",
    "t10_simhash" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '\s+\S+$', '') FROM documents),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
         h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hv FROM tok),
         votes AS (
           SELECT doc_id, b.range AS bit,
             sum(CASE WHEN (hv >> CAST(b.range AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM h CROSS JOIN range(32) b GROUP BY doc_id, b.range),
         sig AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS sig
           FROM votes GROUP BY doc_id)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON (a.sig >> 16) = (b.sig >> 16) AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY a_id, b_id""",
    "t11_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT vec_id + 1000000 AS vec_id,
                 list_transform(v, x -> x * 1.001) AS v FROM e),
         eb AS (SELECT vec_id, v,
           list_aggregate(list_transform(v[1:16], x -> CASE WHEN x >= 0.0 THEN '+' ELSE '-' END), 'string_agg', '') AS bucket
           FROM e),
         pb AS (SELECT vec_id, v,
           list_aggregate(list_transform(v[1:16], x -> CASE WHEN x >= 0.0 THEN '+' ELSE '-' END), 'string_agg', '') AS bucket
           FROM p),
         pairs AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_inner_product(a.v, b.v) /
               (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos_sim
           FROM eb a JOIN pb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT a_id, b_id, cos_sim FROM pairs
         WHERE cos_sim >= 0.9999 ORDER BY a_id, b_id""",
    "t12_jaccard" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '\s+\S+$', '') FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
           WHERE len(t) >= 3)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id = b.doc_id - 1000000
         ORDER BY a_id""",
    "t13_langid" ->
      """WITH t AS (SELECT doc_id, lang AS labeled,
             list_distinct(string_split(text, ' ')) AS td
           FROM documents WHERE doc_id <= 300),
         s AS (SELECT doc_id, labeled,
           CAST(len(list_intersect(td, ['der','die','und','ist'])) AS INTEGER) AS s_de,
           CAST(len(list_intersect(td, ['the','and','of','to'])) AS INTEGER) AS s_en,
           CAST(len(list_intersect(td, ['el','la','de','y'])) AS INTEGER) AS s_es,
           CAST(len(list_intersect(td, ['le','la','et','un'])) AS INTEGER) AS s_fr,
           CAST(len(list_intersect(td, ['de','shi','le','he'])) AS INTEGER) AS s_zh
           FROM t)
         SELECT doc_id, labeled, s_de, s_en, s_es, s_fr, s_zh,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS predicted
         FROM s ORDER BY doc_id""",
    "t14_quality" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t
           FROM documents WHERE doc_id <= 300),
         m AS (SELECT doc_id, n_chars,
           CAST(len(t) AS INTEGER) AS n_toks,
           round(CAST(n_chars AS DOUBLE) / len(t), 4) AS avg_tok_len,
           round(CAST(len(list_intersect(list_distinct(t),
             ['the','and','of','to','a','in'])) AS DOUBLE) /
             len(list_distinct(t)), 4) AS stopword_ratio
           FROM t)
         SELECT doc_id, n_chars, n_toks, avg_tok_len, stopword_ratio,
           round((CASE WHEN n_chars BETWEEN 100 AND 500 THEN 0.5 ELSE 0.0 END)
             + (CASE WHEN avg_tok_len BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN stopword_ratio > 0.01 THEN 0.2 ELSE 0.0 END), 2)
             ::DOUBLE AS quality_score
         FROM m ORDER BY doc_id""",
    "t15_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS bpe_ish_tokens,
         CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS INTEGER) AS space_plus_one
         FROM documents WHERE doc_id <= 300 ORDER BY doc_id""",
    "t16_fingerprint" ->
      """WITH c AS (SELECT doc_id,
           list_transform(string_split(text, ' '),
             x -> CAST(length(x) * 31 + ascii(substr(x,1,1)) AS BIGINT)) AS codes
           FROM documents WHERE doc_id <= 300)
         SELECT doc_id,
           list_reduce(codes, (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
         FROM c ORDER BY doc_id""",
    "t49_bpe_merges" ->
      """WITH words AS (
           SELECT w, count(*) AS wc FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
           GROUP BY w),
         pairs AS (
           SELECT substr(w, CAST(t.i AS INT), 2) AS pair, wc
           FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i))
         SELECT pair, CAST(sum(wc) AS BIGINT) AS n
         FROM pairs GROUP BY pair
         ORDER BY n DESC, pair LIMIT 20""",
    "t50_bpe_apply" -> t50Oracle,
    "t51_bpe_train" -> t51Oracle(16),
    "t17_sampling" ->
      """WITH s AS (
           SELECT lang, doc_id,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS INTEGER) AS BIGINT) % 100 AS bucket
           FROM documents)
         SELECT lang, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         FROM s WHERE bucket < 10 GROUP BY lang ORDER BY lang""",
    "t18_decontaminate" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '\s+\S+$', '') FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
           WHERE len(t) >= 3),
         bench AS (SELECT doc_id AS bench_id, unnest(sh) AS shingle FROM sh WHERE doc_id <= 20),
         train AS (SELECT doc_id AS train_id, unnest(sh) AS shingle FROM sh WHERE doc_id > 20)
         SELECT train_id, bench_id, count(*) AS n_shared
         FROM train JOIN bench USING (shingle)
         GROUP BY train_id, bench_id
         HAVING count(*) >= 5
         ORDER BY train_id, bench_id""",
    "t19_pii_redact" ->
      """WITH planted AS (
           SELECT doc_id, text ||
             (CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE '' END) ||
             (CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199 now' ELSE '' END) AS text
           FROM documents WHERE doc_id <= 300),
         r AS (
           SELECT doc_id, text,
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%-]+@[A-Za-z0-9.-]+\.[A-Za-z]+', '[EMAIL]', 'g'),
               '555-[0-9]{4}', '[PHONE]', 'g') AS redacted
           FROM planted)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%-]+@[A-Za-z0-9.-]+\.[A-Za-z]+')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS INTEGER) AS n_phones,
           CAST(length(text) - length(redacted) AS INTEGER) AS chars_redacted,
           md5(redacted) AS redacted_md5
         FROM r ORDER BY doc_id""",
    "t20_dedup_clusters" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '\s+\S+$', '') FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
           WHERE len(t) >= 3),
         sig AS (
           SELECT doc_id, sh, list_transform(range(0, 8),
             k -> list_min(list_transform(ms, m -> substr(m || m, CAST(k*3+1 AS INTEGER), 12)))) AS mh
           FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS ms FROM sh)),
         bands AS (
           SELECT doc_id, sh, unnest(list_transform(range(0, 4),
             b -> {band: b, key: mh[2*b+1] || mh[2*b+2]}), recursive := true)
           FROM sig),
         pairs AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5),
         sym AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION
           SELECT b_id, a_id FROM pairs),
         reach AS (
           SELECT src, dst FROM sym
           UNION
           SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
         SELECT canonical_id, count(*) AS cluster_size,
           CAST(sum(id) AS BIGINT) AS member_checksum
         FROM (SELECT src AS id, least(src, min(dst)) AS canonical_id
               FROM reach GROUP BY src)
         GROUP BY canonical_id ORDER BY canonical_id""",
    "t21_quota_sample" ->
      """WITH q AS (
           SELECT source, doc_id,
             (CASE CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 4
                WHEN 0 THEN 40 WHEN 1 THEN 20 WHEN 2 THEN 10 ELSE 5 END) AS quota_pct,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS INTEGER) AS BIGINT) % 100 AS bucket
           FROM documents)
         SELECT source, quota_pct,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN bucket < quota_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(coalesce(sum(CASE WHEN bucket < quota_pct THEN doc_id END), 0) AS BIGINT) AS id_checksum
         FROM q GROUP BY source, quota_pct ORDER BY source""",
    "t22_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e),
         qv AS (SELECT vec_id, max_abs,
                 CASE WHEN max_abs = 0
                   THEN list_transform(v, x -> 0)
                   ELSE list_transform(v, x -> CAST(round(x * 127.0 / max_abs) AS INTEGER))
                 END AS q
                FROM m)
         SELECT vec_id,
           round(max_abs, 6) AS scale_max_abs,
           CAST(list_min(q) AS INTEGER) AS q_min,
           CAST(list_max(q) AS INTEGER) AS q_max,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           list_aggregate(list_transform(q, x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS q_vec
         FROM qv ORDER BY vec_id""",
    "t23_seq_pack" ->
      """WITH t AS (
           SELECT doc_id, doc_id % 8 AS shard,
                  len(string_split(text, ' ')) AS n_toks
           FROM documents),
         o AS (
           SELECT shard, n_toks,
                  sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
           FROM t),
         p AS (
           SELECT shard, n_toks,
                  CAST(floor((end_off - n_toks) / 256.0) AS BIGINT) AS first_seq,
                  CAST(floor((end_off - 1) / 256.0) AS BIGINT) AS last_seq
           FROM o)
         SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
           CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boundary_spanning,
           CAST(sum(first_seq) AS BIGINT) AS seq_checksum
         FROM p GROUP BY shard ORDER BY shard""",
    "t24_repetition_filter" ->
      """WITH real_docs AS (SELECT doc_id, text FROM documents),
         planted AS (
           SELECT doc_id + 2000000 AS doc_id,
                  trim(repeat(string_split(text, ' ')[1] || ' ' ||
                              string_split(text, ' ')[2] || ' ', 20)) AS text
           FROM real_docs
           WHERE doc_id % 13 = 0 AND len(string_split(text, ' ')) >= 2),
         docs AS (
           SELECT doc_id, string_split(text, ' ') AS tk
           FROM (SELECT * FROM real_docs UNION ALL SELECT * FROM planted)),
         d AS (
           SELECT doc_id, tk, CAST(len(tk) AS INTEGER) AS n_toks,
                  len(list_distinct(tk)) AS n_distinct
           FROM docs),
         b AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(tk)),
                    i -> tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1])) AS bigram
           FROM d WHERE len(tk) >= 2),
         bc AS (SELECT doc_id, bigram, count(*) AS n FROM b GROUP BY 1, 2),
         bt AS (
           SELECT doc_id, CAST(max(n) AS BIGINT) AS top_bigram_n,
                  CAST(sum(n) AS BIGINT) AS n_bigrams
           FROM bc GROUP BY 1)
         SELECT d.doc_id, n_toks,
           round(1.0 - n_distinct * 1.0 / n_toks, 6) AS dup_token_frac,
           coalesce(top_bigram_n, 0) AS top_bigram_n,
           round(coalesce(top_bigram_n * 1.0 / n_bigrams, 0.0), 6) AS top_bigram_frac,
           (round(1.0 - n_distinct * 1.0 / n_toks, 6) > 0.75 OR
            round(coalesce(top_bigram_n * 1.0 / n_bigrams, 0.0), 6) > 0.20) AS flagged
         FROM d LEFT JOIN bt USING (doc_id) ORDER BY d.doc_id""",
    "t25_kmeans_curate" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
         d1 AS (SELECT e.vec_id, e.v, c.cent_id,
                  list_sum(list_transform(range(1, 65),
                    i -> (v[CAST(i AS INTEGER)] - cv[CAST(i AS INTEGER)]) ^ 2)) AS d2
                FROM e CROSS JOIN c0 c),
         a1 AS (SELECT vec_id, v, cent_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2 ASC, cent_id ASC) AS rn FROM d1) WHERE rn = 1),
         l1 AS (SELECT cent_id, r.range AS lane,
                  round(avg(v[CAST(r.range AS INTEGER)]), 6) AS m
                FROM a1 CROSS JOIN range(1, 65) r GROUP BY 1, 2),
         c1 AS (SELECT cent_id, list(m ORDER BY lane) AS cv FROM l1 GROUP BY 1),
         dd AS (SELECT e.vec_id, c.cent_id,
                  list_sum(list_transform(range(1, 65),
                    i -> (v[CAST(i AS INTEGER)] - cv[CAST(i AS INTEGER)]) ^ 2)) AS d2
                FROM e CROSS JOIN c1 c),
         a2 AS (SELECT vec_id, cent_id, d2 FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2 ASC, cent_id ASC) AS rn FROM dd) WHERE rn = 1)
         SELECT cent_id AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(vec_id) AS BIGINT) AS member_checksum,
           round(avg(d2), 4) AS avg_dist2
         FROM a2 GROUP BY 1 ORDER BY 1""",
    "t26_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT vec_id + 1000000 AS vec_id,
                 list_transform(v, x -> x * 1.001) AS v FROM e),
         corpus AS (SELECT * FROM e UNION ALL SELECT * FROM p),
         c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
         dd AS (SELECT corpus.vec_id, corpus.v, c.cent_id,
                  list_sum(list_transform(range(1, 65),
                    i -> (v[CAST(i AS INTEGER)] - cv[CAST(i AS INTEGER)]) ^ 2)) AS d2
                FROM corpus CROSS JOIN c0 c),
         asg AS (SELECT vec_id, v, cent_id FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY d2 ASC, cent_id ASC) AS rn FROM dd) WHERE rn = 1),
         dup AS (SELECT DISTINCT b.vec_id
                 FROM asg a JOIN asg b
                   ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
                 WHERE round(list_inner_product(a.v, b.v) /
                   (sqrt(list_inner_product(a.v, a.v)) *
                    sqrt(list_inner_product(b.v, b.v))), 6) >= 0.9999)
         SELECT cent_id AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(coalesce(sum(CASE WHEN dup.vec_id IS NOT NULL THEN asg.vec_id END), 0)
             AS BIGINT) AS dropped_checksum,
           CAST(coalesce(sum(CASE WHEN dup.vec_id IS NULL THEN asg.vec_id END), 0)
             AS BIGINT) AS survivor_checksum
         FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
         GROUP BY 1 ORDER BY 1""",
    "t27_incremental_dedup" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
         batch_raw AS (
           SELECT doc_id + 1000000 AS doc_id,
                  regexp_replace(text, '\s+\S+$', '') AS text
           FROM docs WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 2000000,
                  array_to_string(list_reverse(string_split(text, ' ')), ' ')
           FROM docs WHERE doc_id % 3 = 1),
         ish AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs)
           WHERE len(t) >= 3),
         bsh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM batch_raw)
           WHERE len(t) >= 3),
         isig AS (
           SELECT doc_id, list_transform(range(0, 8),
             k -> list_min(list_transform(ms, m -> substr(m || m, CAST(k*3+1 AS INTEGER), 12)))) AS mh
           FROM (SELECT doc_id, list_transform(sh, s -> md5(s)) AS ms FROM ish)),
         bsig AS (
           SELECT doc_id, list_transform(range(0, 8),
             k -> list_min(list_transform(ms, m -> substr(m || m, CAST(k*3+1 AS INTEGER), 12)))) AS mh
           FROM (SELECT doc_id, list_transform(sh, s -> md5(s)) AS ms FROM bsh)),
         ibands AS (
           SELECT doc_id, unnest(list_transform(range(0, 4),
             b -> {band: b, key: mh[2*b+1] || mh[2*b+2]}), recursive := true)
           FROM isig),
         bbands AS (
           SELECT doc_id, unnest(list_transform(range(0, 4),
             b -> {band: b, key: mh[2*b+1] || mh[2*b+2]}), recursive := true)
           FROM bsig),
         cand AS (
           SELECT DISTINCT b.doc_id AS b_id, a.doc_id AS i_id
           FROM bbands b JOIN ibands a ON a.band = b.band AND a.key = b.key),
         ver AS (
           SELECT c.b_id, c.i_id,
             round(CAST(len(list_intersect(bs.sh, isx.sh)) AS DOUBLE) /
               len(list_distinct(list_concat(bs.sh, isx.sh))), 4) AS jaccard
           FROM cand c
           JOIN bsh bs ON bs.doc_id = c.b_id
           JOIN ish isx ON isx.doc_id = c.i_id),
         vok AS (SELECT * FROM ver WHERE jaccard >= 0.5),
         agg AS (
           SELECT b_id, CAST(count(*) AS BIGINT) AS nm, max(jaccard) AS mx,
                  min(i_id) AS best
           FROM vok GROUP BY 1)
         SELECT b.doc_id AS b_id,
           coalesce(nm, 0) AS n_matches,
           coalesce(mx, 0.0) AS max_jaccard,
           CAST(coalesce(best, -1) AS BIGINT) AS best_match,
           coalesce(nm, 0) > 0 AS is_dup
         FROM bsh b LEFT JOIN agg ON b.doc_id = agg.b_id
         ORDER BY b_id""",
    "t28_heavy_hitters" ->
      """SELECT token, n_exact, TRUE AS within_bound FROM (
           SELECT token, CAST(count(*) AS BIGINT) AS n_exact
           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token ORDER BY n_exact DESC, token ASC LIMIT 20)
         ORDER BY n_exact DESC, token ASC""",
    "t29_substring_dedup" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         quotes AS (
           SELECT doc_id + 3000000 AS doc_id,
             string_split('uqp' || CAST(doc_id AS VARCHAR) || ' ' ||
               array_to_string(t[3:12], ' ') ||
               ' uqs' || CAST(doc_id AS VARCHAR), ' ') AS t
           FROM base WHERE doc_id % 5 = 0 AND len(t) >= 13),
         corpus AS (
           SELECT doc_id, t FROM base UNION ALL SELECT doc_id, t FROM quotes),
         pos AS (
           SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             unnest(range(1, len(t)-6)) AS pos, t
           FROM corpus WHERE len(t) >= 8),
         hashed AS (
           SELECT doc_id, n_tokens, pos,
             md5(array_to_string(t[pos:pos+7], ' ')) AS h
           FROM pos),
         dup AS (
           SELECT doc_id, n_tokens, pos,
             count(*) OVER (PARTITION BY h) AS n_occ
           FROM hashed),
         isl AS (
           SELECT doc_id, n_tokens, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
               THEN 1 ELSE 0 END AS brk
           FROM dup WHERE n_occ > 1
           WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         spans AS (
           SELECT doc_id, n_tokens, island,
             min(pos) AS span_start, max(pos) + 7 AS span_end
           FROM (SELECT doc_id, n_tokens, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                 FROM isl)
           GROUP BY doc_id, n_tokens, island)
         SELECT doc_id, n_tokens,
           CAST(count(*) AS BIGINT) AS n_dup_spans,
           CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_dup_tokens,
           round(CAST(sum(span_end - span_start + 1) AS DOUBLE) / n_tokens, 4)
             AS dup_fraction
         FROM spans GROUP BY doc_id, n_tokens ORDER BY doc_id""",
    "t30_lm_quality" ->
      """WITH docs AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         scored AS (
           SELECT doc_id, t FROM docs
           UNION ALL
           SELECT doc_id + 4000000 AS doc_id,
             string_split('zq0 zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 zq11 zq12 zq13 zq14 zq15 zq16 zq17 zq18 zq19', ' ') AS t
           FROM docs WHERE doc_id % 9 = 0),
         vocab AS (
           SELECT token, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(t) AS token FROM docs) GROUP BY token),
         stats AS (
           SELECT CAST(sum(c) AS BIGINT) AS n_total,
                  CAST(count(*) AS BIGINT) AS v_size FROM vocab),
         tok AS (SELECT doc_id, unnest(t) AS token FROM scored),
         perdoc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(-ln(CAST(coalesce(c, 0) + 1 AS DOUBLE) /
               (n_total + v_size))), 4) AS avg_neglogp
           FROM tok LEFT JOIN vocab USING (token) CROSS JOIN stats
           GROUP BY doc_id)
         SELECT doc_id, n_tokens, avg_neglogp,
           avg_neglogp > 6.0 AS is_low_quality
         FROM perdoc ORDER BY doc_id""",
    "t31_pq_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         subs AS (
           SELECT vec_id, CAST(j.range AS INTEGER) AS j,
             v[CAST(j.range*16+1 AS INTEGER):CAST(j.range*16+16 AS INTEGER)] AS sv
           FROM e CROSS JOIN range(0, 4) j),
         cb0 AS (
           SELECT j, CAST(vec_id AS INTEGER) AS code, sv AS cw
           FROM subs WHERE vec_id < 16),
         d0 AS (
           SELECT s.vec_id, s.j, c.code, s.sv,
             list_sum(list_transform(range(1, 17),
               i -> (sv[CAST(i AS INTEGER)] - cw[CAST(i AS INTEGER)]) ^ 2)) AS d2
           FROM subs s JOIN cb0 c USING (j)),
         asg0 AS (
           SELECT vec_id, j, code, sv FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, j
               ORDER BY d2 ASC, code ASC) AS rn FROM d0) WHERE rn = 1),
         cb1 AS (
           SELECT j, code, list(m ORDER BY lane) AS cw FROM (
             SELECT j, code, r.range AS lane,
               round(avg(sv[CAST(r.range AS INTEGER)]), 6) AS m
             FROM asg0 CROSS JOIN range(1, 17) r GROUP BY 1, 2, 3)
           GROUP BY 1, 2),
         dists AS (
           SELECT s.vec_id, s.j, c.code,
             list_sum(list_transform(range(1, 17),
               i -> (sv[CAST(i AS INTEGER)] - cw[CAST(i AS INTEGER)]) ^ 2)) AS d2
           FROM subs s JOIN cb1 c USING (j)),
         enc AS (
           SELECT vec_id, j, code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, j
               ORDER BY d2 ASC, code ASC) AS rn FROM dists) WHERE rn = 1),
         dt AS (
           SELECT s.vec_id AS q_id, s.j, c.code,
             list_sum(list_transform(range(1, 17),
               i -> (sv[CAST(i AS INTEGER)] - cw[CAST(i AS INTEGER)]) ^ 2)) AS pd
           FROM subs s JOIN cb1 c USING (j) WHERE s.vec_id < 10),
         adc AS (
           SELECT dt.q_id, enc.vec_id AS c_id, round(sum(pd), 6) AS adist
           FROM enc JOIN dt ON enc.j = dt.j AND enc.code = dt.code
           GROUP BY 1, 2),
         short AS (
           SELECT q_id, c_id FROM (
             SELECT q_id, c_id, adist,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY adist ASC, c_id ASC) AS srnk
             FROM adc WHERE c_id <> q_id)
           WHERE srnk <= 100),
         rerank AS (
           SELECT sh.q_id, sh.c_id,
             round(list_sum(list_transform(range(1, 65),
               i -> (q.v[CAST(i AS INTEGER)] - c.v[CAST(i AS INTEGER)]) ^ 2)), 6) AS d2x
           FROM short sh
           JOIN e q ON q.vec_id = sh.q_id
           JOIN e c ON c.vec_id = sh.c_id),
         top AS (
           SELECT q_id, c_id, d2x,
             row_number() OVER (PARTITION BY q_id
               ORDER BY d2x ASC, c_id ASC) AS rnk
           FROM rerank)
         SELECT q_id, CAST(rnk AS INT) AS rnk, c_id, round(d2x, 4) AS l2_dist
         FROM top WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "t32_url_filter" ->
      """WITH docs AS (
           SELECT doc_id, lang, source,
             'https://' || source || '.example.' ||
               (CASE CAST(doc_id % 3 AS INTEGER)
                  WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) ||
               '/docs/' || CAST(doc_id AS VARCHAR) || '?ref=' || lang AS url
           FROM documents),
         parts AS (
           SELECT doc_id,
             regexp_extract(url, 'https://([^/]+)/', 1) AS host,
             regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(url, '\?ref=(.*)$', 1) AS ref
           FROM docs),
         blocklist AS (
           SELECT DISTINCT host FROM parts
           WHERE CAST(regexp_extract(host, 'src(\d+)', 1) AS INTEGER) % 5 = 0)
         SELECT host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(count(DISTINCT ref) AS BIGINT) AS n_ref_langs,
           CAST(sum(CASE WHEN path = '/docs/' || CAST(doc_id AS VARCHAR)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_path_ok
         FROM parts
         WHERE host NOT IN (SELECT host FROM blocklist)
         GROUP BY host ORDER BY host""",
    "t33_bloom_decontaminate" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, regexp_replace(text, '\s+\S+$', '') FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
           WHERE len(t) >= 3),
         bench AS (
           SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id <= 20),
         train AS (
           SELECT doc_id AS train_id, unnest(sh) AS shingle FROM sh WHERE doc_id > 20)
         SELECT train_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_hits,
           TRUE AS bloom_consistent
         FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
         GROUP BY train_id ORDER BY train_id""",
    "t34_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         s AS (SELECT doc_id, len(t) AS n, t,
                 unnest(range(0, len(t), 24)) AS start FROM d)
         SELECT doc_id,
           CAST(start / 24 AS INT) AS chunk_id,
           CAST(start AS INT) AS start,
           CAST(len(t[start+1 : start+32]) AS INT) AS chunk_len,
           md5(array_to_string(t[start+1 : start+32], ' ')) AS chunk_md5
         FROM s WHERE start = 0 OR start + 8 < n
         ORDER BY doc_id, chunk_id""",
    "t35_bm25" ->
      """WITH docs AS (
           SELECT doc_id, len(t) AS dl, t
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
         tok AS (SELECT doc_id, dl, unnest(t) AS token FROM docs),
         df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         qterms AS (SELECT token, df FROM df ORDER BY df ASC, token ASC LIMIT 5),
         tf AS (
           SELECT doc_id, dl, token, df, CAST(count(*) AS DOUBLE) AS tf
           FROM tok JOIN qterms USING (token)
           GROUP BY doc_id, dl, token, df),
         scored AS (
           SELECT doc_id, round(sum(
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
           FROM tf, corpus GROUP BY doc_id),
         top AS (SELECT doc_id, score FROM scored
                 ORDER BY score DESC, doc_id ASC LIMIT 20)
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rnk,
           round(score, 4) AS score
         FROM top ORDER BY rnk""",
    "t36_leakage_split" ->
      """WITH d AS (
           SELECT doc_id, source,
             CASE WHEN CAST(CAST('0x' || substr(md5(source), 1, 6) AS INTEGER) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(CAST('0x' || substr(md5(source), 1, 6) AS INTEGER) AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents),
         leak AS (
           SELECT max(ns) AS max_splits_per_source FROM (
             SELECT source, count(DISTINCT split) AS ns FROM d GROUP BY source))
         SELECT split, count(DISTINCT source) AS n_sources,
           count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           (max_splits_per_source = 1) AS leakage_free
         FROM d, leak
         GROUP BY split, max_splits_per_source ORDER BY split""",
    "t37_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sims AS (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_inner_product(q.v, c.v) /
               (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS sim
           FROM e q JOIN e c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10),
         ranked AS (
           SELECT q_id, c_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rnk
           FROM sims WHERE sim >= 0.25 AND sim <= 0.5)
         SELECT q_id, CAST(rnk AS INT) AS rnk, c_id, round(sim, 4) AS sim
         FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "t38_knn_classify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv, label AS true_label FROM e WHERE vec_id < 50),
         train AS (SELECT vec_id AS c_id, v AS cv, label FROM e WHERE vec_id >= 50),
         sims AS (
           SELECT q_id, true_label, c_id, label,
             list_inner_product(qv, cv) /
               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS sim,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_inner_product(qv, cv) /
                 (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) DESC,
               c_id ASC) AS rnk
           FROM q CROSS JOIN train),
         votes AS (
           SELECT q_id, true_label, label, count(*) AS n_votes
           FROM sims WHERE rnk <= 5 GROUP BY 1, 2, 3),
         win AS (
           SELECT q_id, true_label, label AS predicted, n_votes,
             row_number() OVER (PARTITION BY q_id
               ORDER BY n_votes DESC, label ASC) AS vr
           FROM votes)
         SELECT q_id, true_label, predicted, n_votes,
           (predicted = true_label) AS correct
         FROM win WHERE vr = 1 ORDER BY q_id""",
    "t39_inverted_index" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id, token FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents)),
         df AS (SELECT token, count(*) AS df FROM tok GROUP BY 1),
         terms AS (
           SELECT token, row_number() OVER (ORDER BY df ASC, token ASC) AS r
           FROM df)
         SELECT
           (SELECT token FROM terms WHERE r = 1) AS term_a,
           (SELECT token FROM terms WHERE r = 2) AS term_b,
           t1.doc_id
         FROM tok t1 JOIN tok t2 USING (doc_id)
         WHERE t1.token = (SELECT token FROM terms WHERE r = 1)
           AND t2.token = (SELECT token FROM terms WHERE r = 2)
         ORDER BY doc_id""",
  )
}
