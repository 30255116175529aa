package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard (BASELINE.json north star).
  *
  * Scale notes (the 100 TB design point):
  *  - exact dedup shuffles on a 128-bit content hash, never on the text
  *    itself — shuffle volume is O(rows × 16B + kept rows).
  *  - MinHash/LSH turns all-pairs O(n²) into per-band bucket joins:
  *    shuffle on (band, bandHash), compare only within buckets.
  *  - SimHash reduces a document to 64 bits; near-dup = small Hamming
  *    distance, bucketable by 16-bit chunks (4 tables) for recall 1.0
  *    at distance ≤ 3.
  */
object DedupOps {

  /** Exact dedup: keep the lowest-`keyCol` row per distinct `dedupCols`
    * content. Window over a content hash → one exchange; the md5 keeps
    * wide text off the shuffle wire (hash-partitioning only needs the
    * digest; the row itself travels once). */
  def exactDedup(df: DataFrame, dedupCols: Seq[String],
                 keyCol: String): DataFrame = {
    val contentHash = md5(concat_ws("\u0000", dedupCols.map(col): _*))
    df.withColumn("_h", contentHash)
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col("_h"))
          .orderBy(col(keyCol))))
      .filter(col("_rn") === 1).drop("_h", "_rn")
  }

  /** Incremental exact dedup against an already-ingested reference
    * corpus: drop rows whose dedup-column content already exists in
    * `ref` — the re-crawl / new-batch ingestion gate (dedup of batch N
    * against batches 1..N−1 without re-deduping the whole corpus).
    * Both sides reduce to a 16-byte digest before the left-anti join,
    * so the shuffle carries hashes, not text; at 100 TB the reference
    * side is a compact digest index, not the historical corpus. */
  def dedupAgainst(df: DataFrame, ref: DataFrame,
                   dedupCols: Seq[String]): DataFrame = {
    val key = md5(concat_ws("\u0000", dedupCols.map(col): _*))
    df.withColumn("_h", key)
      .join(ref.select(key.as("_h")).distinct(), Seq("_h"), "left_anti")
      .drop("_h")
  }

  /** Cross-corpus n-gram contamination (benchmark decontamination):
    * eval docs sharing at least one word n-gram with any train doc,
    * with the count of shared distinct shingles. Explode both sides'
    * distinct shingle sets, equi-join on the shingle, count per eval
    * doc — shuffle keyed on the shingle, never doc×doc. The train side
    * collapses to its distinct shingle vocabulary first (at 100 TB
    * that vocabulary — not the corpus — is the join input, and a hot
    * shingle expands only by its eval-side occurrences). */
  def contamination(evalDf: DataFrame, train: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    val evalSh = evalDf.select(col(idCol),
      explode(TextOps.shingleSet(col(textCol), n)).as("_s"))
    val trainSh = train
      .select(explode(TextOps.shingleSet(col(textCol), n)).as("_s")).distinct()
    evalSh.join(trainSh, "_s")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** Exact-duplicate group profile: one row per distinct content with
    * keeper id and copy count. */
  def dupGroups(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(keyCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** MinHash signature over the distinct token set: k independent hash
    * functions h_i(t) = md5(i || "_" || t), signature = per-i minimum.
    * md5-based so the DuckDB oracle can reproduce it bit-for-bit.
    * One explode + one hash-aggregate (k mins computed in a single
    * pass), shuffle keyed on `idCol`.
    *
    * Costs k md5 evaluations per token — fine for small k (oracle-parity
    * demos); for realistic signatures (k≈128) use
    * [[minhashSignatureFast]], which hashes each token ONCE.
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8): DataFrame = {
    val toks = df.select(col(idCol),
        explode(TextOps.tokenSet(col(textCol))).as("_tok"))
    toks.groupBy(col(idCol))
      .agg(
        min(md5(concat(lit("0_"), col("_tok")))).as("h0"),
        (1 until k).map(i =>
          min(md5(concat(lit(s"${i}_"), col("_tok")))).as(s"h$i")): _*)
  }

  /** Modulus for the universal-hash MinHash family: the Mersenne prime
    * 2^31−1. Operands stay < 2^62, so 64-bit arithmetic never overflows
    * in either Spark or the DuckDB oracle (which errors on overflow
    * rather than wrapping). */
  val MinhashPrime: Long = 2147483647L

  /** Deterministic (a_i, b_i) coefficient pairs for the universal-hash
    * family h_i(x) = (a_i·x + b_i) mod p, seeded so Spark code and
    * generated oracle SQL embed identical literals. a < 2^30 keeps
    * a·x < 2^62 for 32-bit x. */
  def minhashCoeffs(k: Int, seed: Long = 12345L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((1L + rnd.nextInt((1 << 30) - 1).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** k-permutation MinHash at realistic k (128): ONE md5 per distinct
    * token → 32-bit integer x (first 8 hex chars) → k universal hashes
    * (a_i·x + b_i) mod p, aggregated with k mins in a single pass.
    * Versus [[minhashSignature]] this is O(tokens) digest work instead of
    * O(k·tokens) — at 100 TB the difference between one scan's worth of
    * hashing and 128. All arithmetic is codegen'd long math and exactly
    * reproducible in the DuckDB oracle (same literals, same mod).
    */
  def minhashSignatureFast(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 128, seed: Long = 12345L): DataFrame = {
    val coeffs = minhashCoeffs(k, seed)
    val toks = df.select(col(idCol),
        explode(TextOps.tokenSet(col(textCol))).as("_tok"))
      .withColumn("_x",
        conv(substring(md5(col("_tok")), 1, 8), 16, 10).cast("long"))
    val aggs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("_x") * lit(a) + lit(b)) % lit(MinhashPrime)).as(s"h$i")
    }
    toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatureFast]]'s hash family computed by the custom
    * [[org.apache.spark.sql.graft.MinHashAgg]] aggregate: ONE
    * Array[Long] buffer updated in a tight k-loop per token instead of
    * k independent `min` buffer slots — at k=128 over millions of
    * exploded token rows this halves the aggregate cost. Output column
    * `sig`: array<long> of the k minima (bit-for-bit the h0..h127 of
    * the column variant; pinned by spec). */
  def minhashSignatureArr(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 128, seed: Long = 12345L,
                          ngram: Int = 1): DataFrame = {
    val unit =
      if (ngram <= 1) TextOps.tokenSet(col(textCol))
      else TextOps.shingleSet(col(textCol), ngram)
    val toks = df.select(col(idCol), explode(unit).as("_tok"))
      .withColumn("_x",
        conv(substring(md5(col("_tok")), 1, 8), 16, 10).cast("long"))
    toks.groupBy(col(idCol))
      .agg(graft.functions.GraftFunctions
        .minhash_agg(col("_x"), k, seed).as("sig"))
  }

  /** [[minhashSignatureFast]]'s hash family as a PURE PER-ROW column
    * expression — no explode, no aggregate: the salted-token hash array
    * is bound once per row, then each of the k minima is an
    * `array_min(transform(...))` pass. Bit-identical to the aggregate
    * forms (pinned by spec). The k array traversals per row cost more
    * CPU than the single-buffer aggregate, so batch index builds should
    * keep using [[minhashSignatureArr]]; this form exists for STREAMS,
    * where a per-doc signature must come from a stateless projection
    * (a streaming groupBy(doc) would put a stateful aggregate in front
    * of every downstream join). */
  def minhashSigExpr(textCol: Column, k: Int,
                     seed: Long = 12345L): Column = {
    val coeffs = minhashCoeffs(k, seed)
    TextOps.bind(transform(TextOps.tokenSet(textCol),
        t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")),
      xs => array(coeffs.map { case (a, b) =>
        array_min(transform(xs,
          x => (x * lit(a) + lit(b)) % lit(MinhashPrime)))
      }: _*))
  }

  /** LSH banding over an array-form signature (from
    * [[minhashSignatureArr]]): band key = md5 of the ':'-joined slice —
    * identical strings to the column-form [[lshBands]]. */
  def lshBandsFromArray(sig: DataFrame, idCol: String, sigCol: String,
                        k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(":",
          transform(slice(col(sigCol), b * r + 1, r), _.cast("string"))))
          .as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"),
        col("bk.band_hash").as("band_hash"))
  }

  /** LSH banding over a MinHash signature: `bands` bands of
    * `k/bands` rows each; band key = md5 of the concatenated row
    * hashes. Docs sharing any band key are near-dup candidates. */
  def lshBands(sig: DataFrame, idCol: String, k: Int,
               bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map { b =>
      val members = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        md5(concat_ws(":", members: _*)).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"),
        col("bk.band_hash").as("band_hash"))
  }

  /** Candidate near-dup pairs: self-join on (band, band_hash), id_a <
    * id_b, distinct. The only shuffle keys on the 16-byte band hash —
    * never all-pairs.
    *
    * Default parameters k=128, bands=16 (r=8 rows/band) put the LSH
    * S-curve threshold at (1/16)^(1/8) ≈ 0.71 Jaccard — candidates are
    * genuinely-similar docs, not (as with a degenerate r=2) most of the
    * corpus. Always follow with [[jaccardVerify]]: banding gives recall,
    * the verify join gives precision.
    *
    * `maxBucket` caps the quadratic within-bucket expansion: a bucket
    * with m > maxBucket members is DOWNGRADED to representative pairs
    * (bucket-min anchor, m−1 rows) instead of C(m,2) enumeration — a
    * mega-bucket is by construction a tight near-dup cluster, for which
    * keep-lowest dedup only needs each member tied to the cluster
    * representative anyway (the [[lshRepresentativePairs]] argument,
    * applied only where the all-pairs form would blow up: a 170k-doc
    * cluster at 100× the fixture would otherwise emit 1.5e10 pairs).
    * Buckets at or below the cap keep exact all-pairs semantics. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 128, bands: Int = 16,
                        ngram: Int = 1, maxBucket: Int = 256): DataFrame = {
    val bandsDf = lshBandsFromArray(
      minhashSignatureArr(df, idCol, textCol, k, ngram = ngram),
      idCol, "sig", k, bands)
    // Buffer-bounded capped expansion straight off the band rows
    // (round-13): the branch decision comes from an O(1)-buffer
    // count, member arrays are only built for at-or-under-cap
    // buckets, identical member SETS are deduped before pair
    // expansion (near-identical docs collide in every band, so a
    // cluster of m docs would otherwise emit its C(m,2) pairs
    // `bands` times over — on the fixture's 1737-doc cluster that is
    // 16 × 1.5M rows into the final distinct instead of 1.5M).
    cappedPairsFromMembers(bandsDf, Seq("band", "band_hash"), idCol,
      maxBucket)
  }

  /** Capped pair expansion over pre-grouped member-id lists — the
    * maxBucket downgrade EXTRACTED from [[lshCandidatePairs]] so every
    * bucketed pair generator (LSH bands, perceptual-hash bands,
    * fingerprint posting lists) shares ONE skew guard instead of
    * re-deriving it: groups at or below `maxBucket` expand to exact
    * all-pairs (C(m,2)); larger groups DOWNGRADE to representative
    * pairs — sorted-head anchor vs each other member, m−1 rows,
    * linear. Input: one row per group with a SORTED member-id array
    * of size > 1 (dedupe identical sets first; identical sets share a
    * size, so the branch decision is per-set consistent — the
    * property the oracle's per-bucket window guard relies on).
    * Output: distinct (id_a, id_b) with id_a < id_b.
    *
    * The per-group id array lives in ONE aggregation buffer — O(m)
    * memory on the task that owns the group; the cap guards the
    * C(m,2) EMISSION, which is what blows up first by a factor of m.
    * PREFER [[cappedPairsFromMembers]] when the ungrouped
    * (bucket, member) rows are still at hand: it takes the branch
    * decision from an O(1)-buffer count aggregate and only ever
    * builds arrays for at-or-under-cap groups, so no task holds an
    * over-cap id buffer (round-13 verdict task 2 — a degenerate
    * 10⁹-member bucket would cost ~8 GB in one buffer here). This
    * pre-grouped form remains for callers that already hold arrays. */
  def cappedPairsFromBuckets(buckets: DataFrame, idsCol: String,
                             maxBucket: Int): DataFrame = {
    val ids = col(idsCol)
    val small = buckets.filter(size(ids) <= maxBucket)
      .select(explode(ids).as("id_a"), ids.as("_pids"))
      // spread the second-level expansion: without this, one task owns a
      // whole bucket and generates its C(m,2) pairs serially
      .repartition(col("id_a"))
      .select(col("id_a"),
        explode(filter(col("_pids"), x => x > col("id_a"))).as("id_b"))
    // mega-bucket downgrade: (sorted) head anchors the rest — linear
    val large = buckets.filter(size(ids) > maxBucket)
      .select(ids.getItem(0).as("id_a"),
        explode(slice(ids, lit(2), size(ids) - 1)).as("id_b"))
    small.unionByName(large).distinct()
  }

  /** BUFFER-BOUNDED capped pair expansion over UNGROUPED
    * (bucket, member) rows — the scale-safe sibling of
    * [[cappedPairsFromBuckets]] (round-13 verdict task 2). The array
    * form takes its branch decision from `size(collect_list(...))`,
    * so one task materializes the FULL member array of a degenerate
    * bucket before the cap can downgrade it (8 B × m — a 10⁹-member
    * band value is ~8 GB in one aggregation buffer). Here the
    * decision comes first, from an O(1)-buffer summary aggregate
    * (count + min per bucket), and the member rows join back against
    * it ([[lshRepresentativePairs]]'s aggregate + join-back shape):
    *
    *  - groups with 1 < m ≤ maxBucket: grouped into sorted arrays
    *    (buffer now PROVABLY ≤ maxBucket ids), identical member SETS
    *    deduped across buckets (a tight cluster collides in every
    *    band — without this its C(m,2) pairs hit the final distinct
    *    `bands` times over), then exact all-pairs;
    *  - groups with m > maxBucket: representative downgrade straight
    *    off the join — (bucket-min anchor, member) rows, m−1 per
    *    bucket, NO array ever built.
    *
    * Output and semantics are IDENTICAL to grouping the members into
    * arrays and calling [[cappedPairsFromBuckets]] (Round13OpsSpec
    * pins parity and the plan shape: every collect_list aggregate
    * sits above the `≤ maxBucket` filter), so the per-bucket cap
    * mirror in consumer oracles is unchanged. Input must have one
    * row per (bucket, member). Cost vs the array form: the summary
    * aggregate + join-back replace the single group-to-array pass —
    * one extra co-partitioned hash aggregate, the price of bounding
    * task memory by `maxBucket` instead of by the hottest bucket. */
  def cappedPairsFromMembers(members: DataFrame, bucketCols: Seq[String],
                             idCol: String, maxBucket: Int): DataFrame = {
    // the join-back must be NULL-SAFE (groupBy treats a NULL bucket
    // key as a real group — the array form emits its pairs, so an
    // equi-join on the raw columns would silently drop every
    // NULL-bucket member: the round-13 review finding) WITHOUT
    // breaking co-partitioning: a conjunction of `<=>` predicates
    // joins fine but its output partitioning no longer lines up with
    // the downstream groupBy, costing an extra full exchange of the
    // band table (measured: q32 1.9 s → 3.3 s, q265 3.6 s → 6.6 s).
    // Folding the bucket columns into ONE struct key gives both:
    // struct equality compares null fields as equal (null-safe by
    // construction), and the summary agg, the join, and the member
    // regroup all key on `_bk` — one aligned partitioning end to end.
    // Project down to (_bk, id) immediately: nothing downstream reads
    // the raw bucket columns, and carrying them beside the struct
    // would double the key bytes through every exchange.
    // (_bk, id) feeds TWO consumers (the summary aggregate and the
    // join-back) whose exchanges differ (the aggregate partial-aggs
    // before its exchange), so nothing reuses across them — without a
    // lineage cut the caller's whole upstream (MinHash signatures,
    // winnow windows, phash bands) runs twice. Checkpoint the
    // projected two-column rows once — the q124/q141 multi-consumer
    // convention; measured 2× on q265's fingerprint subtree. EAGER, as
    // at every multi-consumer cut in this file: a lazy cut is marked
    // checkpointed by whichever consumer's job finishes first, and when
    // AQE runs a broadcast of one consumer next to the other's shuffle
    // stage, that marking (broadcast thread: checkpoint lock, then RDD
    // lock) and the DAG scheduler's stage walk (RDD lock, then
    // checkpoint lock) deadlock the JVM — q32 hung Verify that way
    // under the bench config (sf0.001, local[4], 1 MB advisory).
    val withK = members
      .select(struct(bucketCols.map(col): _*).as("_bk"), col(idCol))
      .localCheckpoint()
    val summary = withK.groupBy(col("_bk"))
      .agg(count(lit(1)).as("_m"), min(col(idCol)).as("_min"))
      .filter(col("_m") > 1)
    val joined = withK.join(summary, Seq("_bk"))
    val small = joined.filter(col("_m") <= maxBucket)
      .groupBy(col("_bk"))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .select(col("_ids")).distinct()
      .select(explode(col("_ids")).as("id_a"), col("_ids").as("_pids"))
      // spread the second-level expansion across tasks (the
      // cappedPairsFromBuckets convention)
      .repartition(col("id_a"))
      .select(col("id_a"),
        explode(filter(col("_pids"), x => x > col("id_a"))).as("id_b"))
    val large = joined.filter(col("_m") > maxBucket &&
        col(idCol) > col("_min"))
      .select(col("_min").as("id_a"), col(idCol).as("id_b"))
    small.unionByName(large).distinct()
  }

  /** Representative-anchored candidate pairs: (bucket-min id, member id)
    * per band bucket instead of all within-bucket pairs. O(bands × n)
    * candidates versus [[lshCandidatePairs]]'s O(Σ bucket²) — on a
    * corpus with a near-dup cluster of m docs the all-pairs form emits
    * C(m,2) pairs (the fixture has m ≈ n/3!), this form emits m−1.
    * Semantics trade-off: a doc is only tested against the minimum id of
    * each bucket it lands in, not every lower id — for greedy
    * keep-lowest dedup of tight clusters (where the bucket min IS the
    * cluster representative) the result is near-identical, and the
    * pipeline stays linear at 100 TB. */
  def lshRepresentativePairs(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 128, bands: Int = 16,
                             ngram: Int = 1): DataFrame = {
    // band rows are referenced twice (bucket minima + the join back);
    // without cutting lineage the whole MinHash signature subtree runs
    // twice — checkpoint materializes it once (eager: see
    // cappedPairsFromMembers for the deadlock a lazy cut risks)
    val bandsDf = lshBandsFromArray(
        minhashSignatureArr(df, idCol, textCol, k, ngram = ngram),
        idCol, "sig", k, bands)
      .localCheckpoint()
    val reps = bandsDf.groupBy(col("band"), col("band_hash"))
      .agg(min(col(idCol)).as("id_a"))
    bandsDf.join(reps, Seq("band", "band_hash"))
      .filter(col(idCol) > col("id_a"))
      .select(col("id_a"), col(idCol).as("id_b")).distinct()
  }

  /** 64-bit SimHash over the distinct token set: per-token xxhash64,
    * per-bit ±1 votes, sign → bit. One explode + ONE single-buffer
    * aggregate ([[org.apache.spark.sql.graft.SimHashAgg]] — the 64
    * `sum(when(...))` column form it replaces is kept as
    * [[simhash64Columns]] and parity-pinned by spec). */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(TextOps.tokenSet(col(textCol))).as("_tok"))
      .withColumn("_h", xxhash64(col("_tok")))
      .groupBy(col(idCol))
      .agg(graft.functions.GraftFunctions
        .simhash_agg(col("_h")).as("simhash"))

  /** Composable-surface form of [[simhash64]]: 64 ±1-vote sum
    * aggregates + a bit-fold projection. */
  def simhash64Columns(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextOps.tokenSet(col(textCol))).as("_tok"))
      .withColumn("_h", xxhash64(col("_tok")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftrightunsigned(col("_h"), i).bitwiseAND(lit(1L)) === 1L,
        lit(1)).otherwise(lit(-1))).as(s"v$i")
    }
    val agg = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val fp = (0 until 64).map { i =>
      when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Oracle-reproducible 60-bit SimHash: token hash = first 15 hex
    * chars of md5 (60 bits — positive in a signed 64-bit long in both
    * engines), bit votes via the single-buffer
    * [[org.apache.spark.sql.graft.SimHashAgg]]. Input bits 60-63 are
    * always 0, so their vote sums are −n and the fingerprint's top 4
    * bits stay 0 — a 60-bit fingerprint in a long. The xxhash64 sibling
    * [[simhash64]] is the cheaper production form; this one trades one
    * md5 per distinct token for bit-for-bit DuckDB parity. */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(TextOps.tokenSet(col(textCol))).as("_tok"))
      .withColumn("_h",
        conv(substring(md5(col("_tok")), 1, 15), 16, 10).cast("long"))
      .groupBy(col(idCol))
      .agg(graft.functions.GraftFunctions.simhash_agg(col("_h"))
        .as("simhash"))

  /** Hamming-bucketed SimHash near-dup pairs, representative form: the
    * fingerprint splits into `chunks` equal bit blocks; by pigeonhole,
    * two fingerprints within Hamming distance `chunks − 1` agree on at
    * least one whole block — bucket on (block index, block value), pair
    * each member with its bucket's minimum id, verify with [[hamming64]]
    * ≤ `maxDist`. O(chunks × n) candidate rows (the all-pairs bucket
    * expansion would be O(Σ bucket²) — quadratic on a near-dup-heavy
    * corpus), every shuffle keyed on a small long. Same representative
    * trade-off as [[lshRepresentativePairs]]: a member is tested only
    * against each bucket's minimum, which for keep-lowest dedup of
    * tight clusters is the cluster representative anyway. */
  def simhashRepPairs(fp0: DataFrame, idCol: String, fpCol: String,
                      bits: Int = 60, chunks: Int = 4,
                      maxDist: Int = 3): DataFrame = {
    require(bits % chunks == 0, s"bits=$bits not divisible by $chunks")
    val w = bits / chunks
    // the fingerprint frame is referenced three times (banding + both
    // sides of the verify join-back); materialize its (possibly
    // whole-corpus-aggregate) lineage once (eager: see
    // cappedPairsFromMembers)
    val fp = fp0.localCheckpoint()
    val chunkCols = (0 until chunks).map { i =>
      struct(lit(i).as("ci"),
        shiftrightunsigned(col(fpCol), i * w)
          .bitwiseAND(lit((1L << w) - 1)).as("cv"))
    }
    val banded = fp.select(col(idCol), explode(array(chunkCols: _*)).as("_c"))
      .select(col(idCol), col("_c.ci").as("_ci"), col("_c.cv").as("_cv"))
    val reps = banded.groupBy(col("_ci"), col("_cv"))
      .agg(min(col(idCol)).as("id_a"))
    val pairs = banded.join(reps, Seq("_ci", "_cv"))
      .filter(col(idCol) > col("id_a"))
      .select(col("id_a"), col(idCol).as("id_b")).distinct()
    pairs
      .join(fp.select(col(idCol).as("id_a"), col(fpCol).as("_fa")), "id_a")
      .join(fp.select(col(idCol).as("id_b"), col(fpCol).as("_fb")), "id_b")
      .withColumn("hamming", hamming64(col("_fa"), col("_fb")).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over near-dup candidate pairs: the canonical
    * step AFTER pair generation — verified pairs form a graph whose
    * components are the duplicate clusters (keep one doc per component).
    * Min-label propagation: every node starts labeled with its own id;
    * each iteration joins labels onto the (symmetrized) edge list and
    * takes `min` over neighbors — ONE shuffle per iteration, keyed on
    * node id, no driver-side graph. Iterations needed = cluster
    * diameter, which for near-dup graphs (LSH buckets emit cliques and
    * representative stars) is 1-2; `maxIter` bounds pathological chains
    * (the published O(log n) alternative is large-star/small-star,
    * overkill at clique diameter). Each iteration is materialized with
    * `localCheckpoint` so the plan does not double per round.
    *
    * `nodes`: one column `idCol` (isolated docs surface as their own
    * singleton component); `pairs`: (id_a, id_b). Returns
    * (idCol, comp) with comp = minimum id reachable. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          idCol: String, maxIter: Int = 20): DataFrame = {
    // symmetrize with ONE evaluation of the pair lineage: the
    // union-of-two-selects spelling referenced `pairs` twice, so the
    // caller's whole pair-generation subtree (LSH expansion, verify
    // joins) ran twice before the checkpoint; the 2-struct explode
    // emits both directions in one pass — identical row set.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("_src"), col("id_b").as("_dst")),
        struct(col("id_b").as("_src"), col("id_a").as("_dst"))))
        .as("_e"))
      .select(col("_e._src").as("_src"), col("_e._dst").as("_dst"))
      .distinct().localCheckpoint()
    // `ckpt` tracks the RAW checkpointed frame of the current iterate
    // (releaseCheckpoint pattern-matches LogicalRDD, so it must see the
    // checkpoint itself, not a projection over it). Every superseded
    // iterate's blocks are released as soon as its successor is
    // materialized — without this, a maxIter-deep run strands maxIter
    // checkpoint RDDs in the block manager until GC (the q57 monotone
    // slowdown). Only the FINAL iterate's checkpoint survives the call,
    // the [[graft.ops.GraphOps.pageRank]] convention (context cleaner
    // reclaims it when the returned frame is collected).
    var ckpt = nodes.select(col(idCol).as("_id")).distinct()
      .withColumn("_comp", col("_id")).localCheckpoint()
    var labels = ckpt
    try {
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        val nbrMin = edges.join(labels, col("_src") === col("_id"))
          .groupBy(col("_dst")).agg(min(col("_comp")).as("_nbr"))
        val next = labels.join(nbrMin, col("_id") === col("_dst"), "left")
          .select(col("_id"),
            least(col("_comp"), coalesce(col("_nbr"), col("_comp")))
              .as("_comp"),
            (coalesce(col("_nbr"), col("_comp")) < col("_comp")).as("_chg"))
          .localCheckpoint()
        releaseCheckpoint(ckpt) // next is materialized; prior blocks dead
        ckpt = next
        done = next.filter(col("_chg")).isEmpty
        labels = next.drop("_chg")
        iter += 1
      }
      labels.select(col("_id").as(idCol), col("_comp").as("comp"))
    } finally {
      // the final iterate is checkpointed (lineage truncated), so the
      // returned frame no longer reads edges — safe to drop its blocks.
      releaseCheckpoint(edges)
    }
  }

  /** Eagerly drop the persisted blocks behind a `localCheckpoint`ed
    * frame. `Dataset.localCheckpoint` persists an RDD that only the
    * context cleaner frees (on GC of the referencing Dataset) — an
    * iterative caller that checkpoints per round must release
    * superseded iterates itself or strand one RDD per round in the
    * block manager. No-op on frames that are not a direct checkpoint
    * (the plan root must be the `LogicalRDD` the checkpoint created). */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Canonical-member selection per duplicate cluster: keep the member
    * with the highest `scoreCol` (ties → smallest id) — the "keep the
    * best copy" step real pretraining pipelines run after clustering
    * (keep-longest / keep-highest-quality), where [[exactDedup]]'s
    * keep-min-id is an arbitrary stand-in.
    *
    * ONE partial-aggregable hash aggregate: `max(struct(score, -id))`
    * carries the argmax through map-side combine, so the shuffle moves
    * one row per (cluster × task), never the membership. No window, no
    * join-back — the at-scale shape for billions of members. */
  def canonicalPerCluster(labeled: DataFrame, idCol: String,
                          compCol: String, scoreCol: String): DataFrame =
    labeled.groupBy(col(compCol))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("_s"),
          (-col(idCol)).as("_negid"))).as("_m"))
      .select(col(compCol), (-col("_m._negid")).as("keep_id"),
        col("_m._s").as("best_score"), col("n_members"))

  /** Exact token-set Jaccard for candidate pairs: explode + equi-join on
    * token + count — the verify step after LSH candidate generation.
    * `candidates` must have (id_a, id_b). */
  def jaccardVerify(df: DataFrame, idCol: String, textCol: String,
                    candidates0: DataFrame, ngram: Int = 1): DataFrame = {
    // the candidate list is referenced twice (intersection counts + the
    // join-back that surfaces zero-overlap pairs); materialize it once
    // rather than recompute its (possibly LSH-sized) lineage (eager:
    // see cappedPairsFromMembers)
    val candidates = candidates0.localCheckpoint()
    val unit =
      if (ngram <= 1) TextOps.tokenSet(col(textCol))
      else TextOps.shingleSet(col(textCol), ngram)
    // only docs referenced by a candidate pair need their sets built —
    // without this semi-join, verifying 435 pairs still tokenizes the
    // whole corpus
    val referenced = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol))).distinct()
    val needed = df.join(referenced, Seq(idCol), "left_semi")
    val sets = needed.select(col(idCol), unit.as("_set"))
      .withColumn("_size", size(col("_set")))
    val sizes = sets.select(col(idCol), col("_size"))
    val toks = sets.select(col(idCol), explode(col("_set")).as("_tok"))
    val inter = candidates
      .join(toks.select(col(idCol).as("id_a"), col("_tok")), "id_a")
      .join(toks.select(col(idCol).as("id_b"), col("_tok")),
        Seq("id_b", "_tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    // left join back onto the candidate list: a pair with NO shared
    // tokens must surface as jaccard 0.0, not silently vanish. (Pairs
    // referencing ids absent from `df` are unverifiable and ARE
    // dropped — the size joins below are inner on purpose.)
    candidates
      .join(sizes.select(col(idCol).as("id_a"), col("_size").as("size_a")),
        "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("_size").as("size_b")),
        "id_b")
      .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
  }

  /** Fuzzy (edit-distance ≤ `maxDist`, 1 or 2) string self-join via
    * DELETION-NEIGHBORHOOD blocking — the sound-and-complete blocking
    * scheme: every string emits itself plus each ≤`maxDist`-character
    * deletion as a join key; two strings within `maxDist` edits
    * (substitution, insertion or deletion) necessarily share a key
    * (SymSpell's meet-in-the-middle lemma), so the all-pairs comparison
    * the oracle runs collapses to an EQUI-join on the variant key. Each
    * string emits |s|+1 keys — a linear blowup on the (deduplicated)
    * string side, never a quadratic candidate set, and the exchange
    * keys on the variant hash, so the plan survives a 100× vocabulary.
    * False candidates (e.g. transpositions, which share two deletion
    * variants but sit at distance 2) are eliminated by the exact
    * `levenshtein` verify, which runs FIRST — it is one codegen'd
    * comparison per candidate row and prunes nearly all of them — so
    * the `distinct()` that collapses pairs sharing several variants
    * dedups only true pairs (its exchange carries the wide carry
    * columns, so it must run on the small side of the filter). Output
    * columns: `<strCol>_a/_b` plus each carry column as `<name>_a/_b`.
    *
    * Feed this DISTINCT strings (aggregate duplicates first) — the
    * blocking cost is per unique string, which is how a catalog /
    * entity-resolution pass wants it at scale anyway. If the
    * precondition is violated (duplicate strings with differing carry
    * values), a matched pair multiplies into one output row per carry
    * combination — the whole-row distinct cannot collapse rows whose
    * carries differ. */
  def editDistancePairs(strings: DataFrame, strCol: String,
                        carryCols: Seq[String] = Nil,
                        maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"editDistancePairs supports maxDist 1 or 2, got $maxDist")
    val sc = col(strCol)
    // variant i deletes the i-th char: s[1..i-1] ++ s[i+1..len].
    // array_union folds in the undeleted string (insert/delete pairs
    // match a full string against a deletion of the longer one).
    val del1 = transform(sequence(lit(1), length(sc)),
      i => concat(sc.substr(lit(1), i - lit(1)),
        sc.substr(i + lit(1), length(sc) - i)))
    // maxDist=2 adds the delete-two neighborhood (positions i < j) —
    // the SymSpell meet-in-the-middle: lev(a,b) ≤ d ⟹ some ≤d-deletion
    // variants of a and b coincide, so an equi-join on variants is a
    // SOUND block at O(L²/2) variants per unique string (vs L+1 for
    // d=1) — linear in corpus size either way, never the O(n²) cross
    // join. The j-index rides filter(idx, j > i), NOT sequence(i+1, L):
    // Spark's sequence(a, b) auto-steps DESCENDING when a > b, which
    // at i = L would fabricate [L+1, L] "positions" instead of none.
    val variants =
      if (maxDist == 1) array_union(array(sc), del1)
      else {
        val idx = sequence(lit(1), length(sc))
        val del2 = when(length(sc) >= 2,
          flatten(transform(idx, i =>
            transform(filter(idx, j => j > i), j => concat(
              sc.substr(lit(1), i - lit(1)),
              sc.substr(i + lit(1), j - i - lit(1)),
              sc.substr(j + lit(1), length(sc) - j))))))
          .otherwise(array().cast("array<string>"))
        array_distinct(concat(array(sc), del1, del2))
      }
    val keyed = strings.select(
      (sc +: carryCols.map(col)) :+ explode(variants).as("_variant"): _*)
    def side(tag: String) = keyed.select(
      (col(strCol).as(s"${strCol}_$tag") +:
        carryCols.map(c => col(c).as(s"${c}_$tag"))) :+ col("_variant"): _*)
    side("a").join(side("b"), Seq("_variant"))
      .filter(col(s"${strCol}_a") < col(s"${strCol}_b") &&
        levenshtein(col(s"${strCol}_a"), col(s"${strCol}_b")) <= maxDist)
      .drop("_variant").distinct()
  }

  /** EXACT set-similarity self-join via PREFIX FILTERING (Chaudhuri–
    * Ganti–Kaushik 2006, the PPJoin/AllPairs candidate generator —
    * the exact complement of MinHash-LSH: NO false negative can exist
    * at the threshold). Jaccard threshold t = tNum/tDen is kept as a
    * RATIONAL so every filter is integer arithmetic.
    *
    * Tokens order globally by RARITY (document frequency asc, token
    * asc — a deterministic total order); a pair with Jaccard ≥ t must
    * share a token within each side's first |d| − ceil(t·|d|) + 1
    * rarest tokens (dropping a whole prefix leaves too little
    * intersection mass to reach t). Candidates are therefore an
    * equi-join on exploded PREFIX tokens only — the rarest tokens
    * carry the smallest postings, so candidate volume collapses vs
    * the full token join — plus the length filter
    * tNum·max(|a|,|b|) ≤ tDen·min(|a|,|b|). The exact intersect
    * verify keeps inter·tDen ≥ union·tNum — integer, no float
    * threshold.
    *
    * Scale shape: one tokenize pass (checkpointed — it feeds the
    * df-counts, the prefixes, and the verify), a token-bounded
    * df-count join-back, per-doc rank windows bounded by doc length,
    * then equi-join + hash-aggregate verify — the LSH pipeline's
    * shape with the approximation removed. Returns
    * (id_a, id_b, inter, union, jaccard). */
  def setSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
                        tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      "threshold must be a rational in (0, 1]")
    val toks = df.select(col(idCol), explode(TextOps.tokenSet(
        lower(col(textCol)))).as("_tok"))
      .localCheckpoint() // feeds df-counts, prefixes, and the verify
    val dfCounts = toks.groupBy(col("_tok"))
      .agg(count(lit(1)).as("_df"))
    val sizes = toks.groupBy(col(idCol)).agg(count(lit(1)).as("_sz"))
    val byDocRarity = Window.partitionBy(col(idCol))
      .orderBy(col("_df"), col("_tok"))
    val prefix = toks.join(dfCounts, "_tok").join(sizes, idCol)
      .withColumn("_rn", row_number().over(byDocRarity))
      // prefix length = sz − ceil(t·sz) + 1; ceil(a/b) = (a+b−1) div b
      .where(col("_rn") <= col("_sz") -
        expr(s"(_sz * $tNum + $tDen - 1) DIV $tDen") + 1)
      .select(col(idCol), col("_tok"), col("_sz"))
    val cand = prefix.select(col(idCol).as("id_a"), col("_tok"),
        col("_sz").as("_sa"))
      .join(prefix.select(col(idCol).as("id_b"), col("_tok"),
        col("_sz").as("_sb")), "_tok")
      .where(col("id_a") < col("id_b") &&
        lit(tNum) * greatest(col("_sa"), col("_sb")) <=
          lit(tDen) * least(col("_sa"), col("_sb")))
      .select(col("id_a"), col("id_b"), col("_sa"), col("_sb"))
      .distinct()
    val inter = cand
      .join(toks.select(col(idCol).as("id_a"), col("_tok")), "id_a")
      .join(toks.select(col(idCol).as("id_b"), col("_tok")),
        Seq("id_b", "_tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    cand.join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("inter"))
      .withColumn("union", col("_sa") + col("_sb") - col("inter"))
      .where(col("inter") * tDen >= col("union") * tNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("union"),
        round(col("inter").cast("double") / col("union"), 6)
          .as("jaccard"))
  }
}
