package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: MinHash+LSH and
  * SimHash over word shingles. Both are shuffle-frugal at scale:
  * signatures are computed per-row (narrow, codegen'd), and the only
  * shuffle is the band-bucket / simhash-chunk groupBy whose cardinality is
  * O(#buckets), not O(#pairs).
  *
  * Hot-bucket guard: at 100 TB, boilerplate/near-empty documents collapse
  * thousands of rows into one band/chunk bucket, and a naive within-bucket
  * self-join goes quadratic in bucket size. Buckets larger than
  * `maxBucket` therefore switch to STAR emission: every member pairs with
  * the bucket's smallest doc_id (the representative) only — O(bucket)
  * output instead of O(bucket²), and duplicate-CLUSTER connectivity is
  * preserved (any two members stay connected through the representative,
  * so a connected-components pass recovers the full duplicate class).
  * Small buckets are untouched, so at sane signatures the pair set is
  * byte-identical to the unguarded join. [[bucketStats]] exposes the
  * bucket-size distribution so a pipeline can alert on degenerate
  * signatures instead of silently paying for them.
  */
object Dedup {

  private val wordPat = "[a-z0-9]+"

  /** Banded/chunked signature rows pinned per (session, canonical input
    * plan), REPARTITIONED by their bucket key before the pin: the
    * guarded-pairs shape consumes its input from several branches
    * (hot-bucket stats, the broadcast of their reps, both sides of the
    * self-join), and exchange reuse does NOT cover the stats branch —
    * its exchange partitions differently — so the expensive signature
    * pass (token explode + hashes + wide aggregate) re-ran per branch
    * (measured: simhash candidates at sf0.1 dropped ~40% pinned).
    * Repartitioning by the bucket key INSIDE the pin makes the cached
    * relation report hashpartitioning(bucket key), so the stats
    * aggregation AND both self-join sides consume it exchange-free
    * (guide §2.4: operations keyed the same way share one exchange) —
    * one shuffle total where the unpinned plan paid the signature pass
    * per branch. Signature rows are doc_id + a few longs — the
    * lightweight proxy of guide §8 — so pinning is cheap at any scale
    * (MEMORY_AND_DISK spills past memory). Bounded LRU; evicted entries
    * unpersist (same pattern as the query-layer FixtureCache).
    */
  private def pinned(sig: DataFrame, tag: String): DataFrame =
    graft.queries.PlanPin.pinned(sig, tag)

  /** 3-word shingle array (distinct) of a text column — native
    * [[graft.functions.Shingles]] k-gram expression (the HOF transform
    * form it replaces was interpreted per element; see Shingles doc).
    */
  def shingleArr(textCol: Column): Column = {
    val w = regexp_extract_all(lower(textCol), lit(wordPat), lit(0))
    array_distinct(graft.functions.Shingles.word_shingles(w, 3))
  }

  /** MinHash signatures: shingles are exploded once, then ONE hash-agg per
    * doc computes all `numHashes` min-of-salted-hash columns — every
    * expression stays inside whole-stage codegen and the signature is
    * materialized by the groupBy exchange, never recomputed downstream.
    * (A nested transform/array_min formulation was 100x slower: Catalyst
    * inlined the full signature expression into every consumer and
    * evaluated it interpreted.)
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame = {
    // The shingle STRING is hashed once; the k salted hash functions are
    // long-only remixes of that 64-bit base (xxhash64(salt, base) — the
    // same one-base-hash + k-functions family construction Spark's
    // MinHashLSH uses). The earlier form hashed the full string k times
    // (k × ~30-byte hashes per shingle row): at sf0.1 the signature pass
    // alone was ~80% of ngram_jaccard_lsh's wall (noop-sink stage
    // isolation, OPTIMIZATION_r06.md) — guide §1.2 step 2, per-task work.
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(shingleArr(col(textCol))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("hb"))
    val aggs = (0 until numHashes).map { i =>
      min(xxhash64(lit(i.toLong), col("hb"))).as(s"h$i")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Within-bucket pair generation with the hot-bucket guard (see object
    * doc). `rows0` carries one LIGHT row per (doc_id, bucket-key...);
    * `payloads` carries each doc's signature, attached to the pair set
    * at the end. Buckets ≤ maxBucket emit all pairs; larger buckets emit
    * star pairs to the min-doc_id representative.
    *
    * Scale shape: the guard taxes the healthy path with ONE extra
    * hash-aggregation (map-side partial combine, stat rows only cross the
    * wire) whose output is filtered to the hot buckets BEFORE a broadcast
    * join — degenerate buckets are rare by nature, so the broadcast is
    * tiny and the big banded side never shuffles for tagging. The star
    * side derives entirely from hot-tagged rows: with zero hot buckets it
    * is empty and the healthy path's only extra cost is the stats
    * aggregation. (The round-3 form built representative payloads by
    * dropDuplicates over ALL banded rows — a full extra shuffle of the
    * signature set even when no hot bucket existed; payload attach via
    * the pair joins made that stage unnecessary outright.)
    */
  private def guardedSelfPairs(rows0: DataFrame, keyCols: Seq[String],
      payloads: DataFrame, payload: String, maxBucket: Int): DataFrame = {
    // r6 restructure (guide §8: decide with small rows, attach payloads
    // once): `rows0` is the LIGHT routing stream — (doc_id, bucket key)
    // only, ~24 bytes/row — repartitioned by the bucket key into a
    // pinned cache so the hot-bucket stats aggregate and both self-join
    // sides consume ONE exchange (the unpinned plan re-ran the signature
    // pass per branch; pinning rows WITH the payload instead defeated
    // column pruning and quadrupled the exchange bytes). The signature
    // payload rides in `payloads` — (doc_id, payload), pinned
    // doc_id-partitioned upstream — and is attached to the PAIR set at
    // the end: the attach joins shuffle only pair rows (the cached
    // payload side already reports hashpartitioning(doc_id)).
    val rows = pinned(rows0.repartition(keyCols.map(col): _*), "selfpairs:")
    val hotStats = rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), min(col("doc_id")).as("__rep"))
      .filter(col("__n") > maxBucket)
    val tagged = rows.join(broadcast(hotStats), keyCols, "left")
    val small = tagged.filter(col("__n").isNull)
    val allPairs = small.as("a").join(small.as("b"),
      keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val hot = tagged.filter(col("__n").isNotNull)
    val starPairs = hot
      .filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"))
    val pairs = allPairs.unionByName(starPairs)
      .dropDuplicates("doc_a", "doc_b")
    pairs
      .join(payloads.select(col("doc_id").as("doc_a"),
        col(payload).as(s"${payload}_a")), Seq("doc_a"))
      .join(payloads.select(col("doc_id").as("doc_b"),
        col(payload).as(s"${payload}_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col(s"${payload}_a"), col(s"${payload}_b"))
  }

  /** Banded view of a signatures frame: one LIGHT row per (doc, band)
    * keyed by the band's bucket hash — no signature column, so the
    * routing stream stays ~24 bytes/row however wide the signature.
    */
  private def bandedBuckets(sigs: DataFrame,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    sigs.select(col("doc_id"),
      // bucket = hash of the band's signature slice DIRECTLY (xxhash64
      // over array<bigint>) — the earlier form stringified each slice
      // and hashed the joined text, allocating nBands strings per doc
      posexplode(array((0 until nBands).map(b =>
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as(Seq("band", "bucket")))
  }

  /** Band-bucket size distribution (descending) — the monitoring surface
    * for degenerate signatures: alert when max size approaches maxBucket.
    */
  def bucketStats(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, rowsPerBand: Int = 4): DataFrame =
    bandedBuckets(minhashSignatures(docs, idCol, textCol, numHashes),
      numHashes, rowsPerBand)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc)

  /** Candidate pairs via banded LSH over the MinHash signature.
    * Docs agreeing on all rows of any band collide (buckets above
    * `maxBucket` degrade to star pairs — see object doc). Returns
    * (doc_a, doc_b, est_jaccard), est_jaccard = fraction of matching
    * minhash components.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    // signatures computed ONCE, pinned doc_id-partitioned (PlanPin doc):
    // the banded routing stream and both payload-attach joins read the
    // cache — the unpinned plan re-ran the shingle+hash pass per branch
    val sigs = pinned(minhashSignatures(docs, idCol, textCol, numHashes)
      .repartition(col("doc_id")), "minhashSigs:")
    val banded = bandedBuckets(sigs, numHashes, rowsPerBand)
    guardedSelfPairs(banded, Seq("band", "bucket"), sigs, "sig", maxBucket)
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          (x === y).cast("int")), v => v === 1)).cast("double") /
          lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** 64-bit SimHash: per token-hash bit, vote +count/-count; sign → bit.
    * Expressed as 64 conditional sums over exploded tokens — one narrow
    * explode + one groupBy(doc) with partial aggregation.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(regexp_extract_all(lower(col(textCol)), lit(wordPat), lit(0)))
        .as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L))
        .as(s"v$b")
    }
    val voted = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until 64).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }
    voted.select(col("doc_id"), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup candidates from a (doc_id, simhash) frame: split the
    * `bits`-bit hash into `nChunks` equal chunks; pairs agreeing on ≥1
    * chunk are candidates — by pigeonhole this covers EVERY pair with
    * hamming ≤ nChunks−1 — then the exact hamming filter keeps true
    * near-dups. One shuffle keyed on (chunk, ckey), cardinality
    * O(#buckets); no all-pairs stage anywhere.
    */
  def candidatesFromSimhash(sig: DataFrame, maxHamming: Int,
      bits: Int, nChunks: Int, maxBucket: Int = 100000): DataFrame = {
    require(maxHamming <= nChunks - 1,
      s"pigeonhole completeness needs maxHamming <= nChunks-1")
    val w = bits / nChunks
    val mask = (1L << w) - 1L
    // signatures pinned doc_id-partitioned, routing stream kept light —
    // same shape as minhashCandidates (PlanPin doc)
    val sigs = pinned(sig.repartition(col("doc_id")), "simhashSigs:")
    val chunked = sigs.select(col("doc_id"),
      posexplode(array((0 until nChunks).map(c =>
        shiftrightunsigned(col("simhash"), c * w).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "ckey")))
    guardedSelfPairs(chunked, Seq("chunk", "ckey"), sigs, "simhash", maxBucket)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Production simhash candidates: xxhash64 tokens, 64-bit signatures. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 100000): DataFrame =
    candidatesFromSimhash(simhash(docs, idCol, textCol), maxHamming, 64, 4,
      maxBucket)

  /** Oracle-reproducible simhash: token hash = the first 15 hex chars of
    * md5 (60 bits), votes per bit from per-char nibbles — every step is
    * engine-neutral, so DuckDB recomputes identical signatures (xxhash64
    * does not exist there). Same algorithm, pluggable token hash.
    */
  def simhashMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(regexp_extract_all(lower(col(textCol)), lit(wordPat), lit(0)))
        .as("tok"))
    // nibble k = hex digit k of md5, decoded by integer ascii arithmetic
    // ('0'-'9' → 0-9, 'a'-'f' → 10-15; Spark md5 emits lowercase hex).
    // The earlier conv(substr, 16, 10).cast("int") form ran the full
    // radix-conversion string machinery 15× per token row — same values,
    // pure codegen int ops now (guide §1.2 per-task work).
    val chars = toks.select(col("doc_id") +: (0 until 15).map { k =>
      val a = ascii(substring(md5(col("tok").cast("binary")), k + 1, 1))
      when(a <= 57, a - 48).otherwise(a - 87).as(s"c$k")
    }: _*)
    val votes = (0 until 60).map { b =>
      sum(when(shiftright(col(s"c${b / 4}"), b % 4).bitwiseAND(lit(1)) === 1, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    val voted = chars.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until 60).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }
    voted.select(col("doc_id"), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** The DuckDB-oracled candidates query: chunk-LSH + exact hamming over
    * md5-based signatures. The oracle recomputes signatures and takes the
    * brute-force all-pairs hamming ≤ 3 — equality machine-checks both the
    * signature math and the pigeonhole completeness of the chunk join.
    */
  def simhashCandidatesOracle(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    candidatesFromSimhash(simhashMd5(docs, idCol, textCol),
      maxHamming = 3, bits = 60, nChunks = 4)

  val simhashCandidatesOracleSql: String = {
    val chars = (0 until 15).map(k =>
      s"strpos('0123456789abcdef', substr(hx, ${k + 1}, 1)) - 1 AS c$k").mkString(", ")
    val votes = (0 until 60).map(b =>
      s"sum(CASE WHEN (c${b / 4} >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val bits = (0 until 60).map(b =>
      s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
       hs AS (SELECT doc_id, md5(tok) AS hx FROM toks),
       cs AS (SELECT doc_id, $chars FROM hs),
       vs AS (SELECT doc_id, $votes FROM cs GROUP BY doc_id),
       sg AS (SELECT doc_id, $bits AS sh FROM vs)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       FROM sg a JOIN sg b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sh, b.sh)) <= 3"""
  }
}
