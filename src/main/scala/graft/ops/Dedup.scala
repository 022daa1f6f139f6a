package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for large-scale training-data pipelines, over a
  * documents(doc_id, text, …) table.
  *
  * All variants follow the same scale shape:
  *
  *   1. exact-dup pre-pass — collapse sha256-identical docs to one
  *      representative (a duplicate-heavy corpus is the NORM at 100 TB;
  *      without this, every group of g identical docs lands g rows in the
  *      same LSH bucket and the bucket join degenerates to O(g²) for pairs
  *      the cheap hash already proves identical);
  *   2. per-row signature — ONE compiled pass per doc (a scalar kernel that
  *      reproduces Spark's xxhash64 values bit-for-bit via catalyst XXH64,
  *      so the banding is identical to the equivalent built-in expression
  *      form but ~50× cheaper than interpreted higher-order functions);
  *   3. band bucket join with a SIZE CAP — bucket sizes are counted first
  *      and buckets above `bucketCap` are dropped from pair generation
  *      (with L independent bands a true near-dup pair still collides in
  *      another band w.h.p.; the cap bounds worst-case fan-out to
  *      O(buckets × cap²) instead of O(N²));
  *   4. exact verification on the candidates only (the expensive token/gram
  *      sets are computed for candidate doc_ids alone, via a semi-join);
  *   5. pairs expanded back across exact-dup groups (identical docs have
  *      identical signatures, so group-cross pairs inherit the
  *      representative pair's similarity and in-group pairs are 1.0).
  *
  * No all-pairs joins anywhere; the only shuffles are the bucket groupBys
  * and the candidate semi-join.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup by full-content hash: keep the min doc_id per sha256 group.
    * At 100 TB this is the standard first pass: shuffle carries (sha, id)
    * pairs only, never content.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(sha2(col("text"), 256).as("sha"), col("doc_id"))
      .groupBy(col("sha"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------- scalar hash kernels

  /** Seed of Spark's xxhash64(...) expression. */
  private val XxSeed = 42L

  /** Bit-exact scalar mirror of the Column form
    * `xxhash64(lit(lane), shingle)` (HashExpression folds children:
    * int literal first, then the string).
    */
  def xxLane(lane: Int, s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), XXH64.hashInt(lane, XxSeed))

  /** The per-lane seed of [[xxLane]] — lets allocation-free callers
    * (kg.Scan's fused tokenizer-hasher) run the same XXH64 kernel over a
    * reusable byte buffer instead of a per-token UTF8String.
    */
  private[graft] def laneSeed(lane: Int): Long = XXH64.hashInt(lane, XxSeed)

  /** Mirror of the Column form `filter(split(lower(text), "[^a-z0-9]+"),
    * _ =!= "")`.
    */
  def tokensOf(text: String): Array[String] = {
    if (text == null) return Array.empty
    text.toLowerCase.split("[^a-z0-9]+", -1).filter(_.nonEmpty)
  }

  /** k-token shingles; <k tokens → the single space-joined token string
    * (mirror of shinglesCol below).
    */
  def tokenShingles(tokens: Array[String], k: Int): Array[String] =
    if (tokens.length < k) Array(tokens.mkString(" "))
    else Array.tabulate(tokens.length - k + 1)(i =>
      tokens.slice(i, i + k).mkString(" "))

  /** FNV-1a 64 over the string's chars (ASCII token/shingle strings here;
    * same scheme as kg.Blocking's name hashing).
    */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Per-lane constant of the minhash family (GOLDEN · (lane+1) mod 2⁶⁴). */
  def laneConst(lane: Int): Long = 0x9e3779b97f4a7c15L * (lane + 1)

  /** Minhash lane hash: splitmix64(fnv1a(s) ^ laneConst). Chosen over
    * xxhash64 because the whole family REPLAYS in the DuckDB oracle with
    * HUGEINT mod-2⁶⁴ arithmetic (XXH64's stripe processing is impractical
    * in SQL), and banding only needs a uniform pairwise-independent-ish
    * family — same scheme kg.Blocking already uses for name blocking.
    */
  def laneHash(lane: Int, s: String): Long =
    graft.kg.CorpusGen.mix(fnv1a(s) ^ laneConst(lane))

  /** MinHash band keys of a shingle multiset: `lanes` min-hashes (UNSIGNED
    * min — the SQL replay mins in the non-negative HUGEINT domain) split
    * into `bands` groups; the band key is the lane-min ARRAY itself (no
    * fold — arrays group/join fine on both engines and keep the replay
    * trivial). One compiled pass over the shingles, all lane mins tracked
    * simultaneously.
    */
  def minhashBandMins(shingles: Array[String], lanes: Int, bands: Int): Array[Array[Long]] = {
    val mins = Array.fill(lanes)(-1L) // unsigned max
    var si = 0
    while (si < shingles.length) {
      val f = fnv1a(shingles(si))
      var l = 0
      while (l < lanes) {
        val h = graft.kg.CorpusGen.mix(f ^ laneConst(l))
        if (java.lang.Long.compareUnsigned(h, mins(l)) < 0) mins(l) = h
        l += 1
      }
      si += 1
    }
    val rows = lanes / bands
    Array.tabulate(bands)(b => mins.slice(b * rows, (b + 1) * rows))
  }

  /** Jaccard over SORTED distinct long arrays (merge intersection — the
    * brute-force all-pairs path hashes each gram to 64 bits once per doc,
    * then every pair comparison is a primitive merge instead of string-set
    * hashing; a cross-doc hash collision would need ~2⁶⁴/|grams|² luck).
    */
  def sortedJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 || b.length == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    inter.toDouble / union.toDouble
  }

  /** Distinct sorted 64-bit hashes of a string set (lane-0 xxhash). */
  def hashedSet(xs: Array[String]): Array[Long] = {
    val out = xs.map(x => xxLane(0, x)).distinct
    java.util.Arrays.sort(out)
    out
  }

  /** Primitive float[] view of a UDF's Seq[Float] input (avoids per-element
    * boxing in the hot verify loops).
    */
  def floatArr(s: Seq[Float]): Array[Float] = s match {
    case a: scala.collection.immutable.ArraySeq.ofFloat => a.unsafeArray
    case null => Array.empty
    case other => other.toArray
  }

  def longArr(s: Seq[Long]): Array[Long] = s match {
    case a: scala.collection.immutable.ArraySeq.ofLong => a.unsafeArray
    case null => Array.empty
    case other => other.toArray
  }

  // ---------------------------------------------------- generic skeleton

  /** (doc_a, doc_b) candidate pairs from shared band keys, with hot buckets
    * (> bucketCap rows) excluded from pair generation. `sigs` is
    * (doc_id, band_id, band_hash).
    *
    * The in-bucket pair generation stays a compiled SELF-JOIN — measured
    * against both a collect_list + pair-UDF form (+77% on the embedding
    * path: a near-cap 1024 bucket materializes ~cap²/2 tuples per row
    * before explode) and a collect_list + typed-flatMap-iterator form
    * (object-boundary serialization per generated pair; the join emits
    * pairs entirely inside WholeStageCodegen). What the measured rewrite
    * KEEPS is the eager localCheckpoint on the DISTINCT OUTPUT: every
    * caller consumes the pair list 2-3× (size prune / candIds union /
    * verify joins), and the join+distinct subtree previously re-executed
    * per consumer.
    */
  def candidatePairs(sigs: DataFrame, bucketCap: Int): DataFrame = {
    val sized = sigs.withColumn("bucket_sz",
      count(lit(1)).over(Window.partitionBy(col("band_id"), col("band_hash"))))
    bucketPairs(sized.filter(col("bucket_sz") <= bucketCap))
  }

  /** candidatePairs for LOW-cardinality band domains (the embedding LSH:
    * 2^planes buckets per table — a few hundred distinct (band_id,
    * band_hash) keys total, most ABOVE the cap at bench scale). The
    * generic path's window count Exchanges AND SORTS every signature row
    * by bucket key just to count buckets; here the bucket sizes come from
    * a partial-aggregated groupBy (the shuffle carries ~one row per
    * bucket per input partition, not one per signature), and the hot-
    * bucket list prunes the signatures with a map-side anti join (AQE
    * broadcasts the tiny hot frame; no hint, so a pathological hot list
    * degrades to a shuffle join instead of a driver OOM). The self-join
    * then sorts only the SURVIVING rows. Filter semantics are identical
    * to the window form (same per-bucket counts, same > cap drop), so the
    * pair set is unchanged — the DuckDB replay recomputes the caps
    * independently and gates it.
    */
  private[graft] def candidatePairsAgg(sigs: DataFrame, bucketCap: Int): DataFrame = {
    // checkpoint: the signature kernel feeds the bucket-size aggregate AND
    // the anti-join probe side — without it the banding UDF runs twice
    val sigsC = sigs.localCheckpoint(true)
    val hot = sigsC.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_sz"))
      .filter(col("bucket_sz") > bucketCap)
      .select(col("band_id"), col("band_hash"))
    bucketPairs(sigsC.join(hot, Seq("band_id", "band_hash"), "left_anti"))
  }

  /** The shared tail of both candidate generators: distinct (doc_a < doc_b)
    * pairs sharing a (band_id, band_hash) key among the signatures that
    * survived the bucket cap.
    */
  private def bucketPairs(kept: DataFrame): DataFrame = {
    // localCheckpoint: the self-join consumes this frame on BOTH sides —
    // without it the whole signature kernel re-runs over the corpus twice.
    // The frame is tiny (N × bands rows of (id, int, long)).
    val ok = kept.select(col("doc_id"), col("band_id"), col("band_hash"))
      .localCheckpoint(true)
    ok.alias("l")
      .join(ok.alias("r"),
        col("l.band_id") === col("r.band_id") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(true)
  }

  /** Lossless size-ratio prune for set-Jaccard candidate pairs:
    * J(A,B) = |A∩B| / |A∪B| ≤ min(|A|,|B|) / max(|A|,|B|), so a pair whose
    * set-size ratio is below the threshold can NEVER verify — drop it
    * before the expensive array join. The explosion this guards against
    * is real: char-4-gram bands on the sf0.1 documents emit 191,809
    * candidates for 256 final pairs (OpsProfile), and every candidate row
    * would otherwise carry BOTH gram arrays through the verify join; the
    * size join carries one int per doc instead. The 1e-9 slack keeps a
    * pair exactly AT the threshold from being lost to float rounding of
    * the ratio (the verify's own inter/union division is 1-ulp exact, so
    * nothing below threshold−1e-9 can round up to ≥ threshold). No
    * broadcast hint: sizes is O(candidate docs) — unbounded at corpus
    * scale — and the pair ids shuffle narrowly either way; AQE picks the
    * strategy that fits at runtime.
    */
  private[graft] def sizePrunedPairs(pairs: DataFrame, sets: DataFrame,
      setCol: String, threshold: Double): DataFrame = {
    val sizes = sets.select(col("doc_id"), size(col(setCol)).as("sz"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") /
        greatest(col("sz_a"), col("sz_b")).cast("double") >= lit(threshold - 1e-9))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Buckets dropped by `bucketCap` (diagnostic surface — "no silent caps"):
    * (band_id, band_hash, bucket_sz) for every hot bucket.
    */
  def droppedBuckets(sigs: DataFrame, bucketCap: Int): DataFrame =
    sigs.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_sz"))
      .filter(col("bucket_sz") > bucketCap)

  /** (rep_id, doc_id) exact-dup group mapping. Built from a (doc_id, sha)
    * PROJECTION so the groupBy/join shuffles carry only id/sha columns —
    * OpsSpec asserts no shuffle in this plan outputs the content column.
    */
  def repMembers(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), sha2(col("text"), 256).as("sha"))
    hashed
      .join(hashed.groupBy(col("sha")).agg(min(col("doc_id")).as("rep_id")),
        Seq("sha"))
      .select(col("rep_id"), col("doc_id"))
  }

  /** Run `nearDups` on exact-dup representatives only, then expand the pair
    * list back across sha-identical groups: in-group pairs get similarity
    * 1.0, cross-group pairs inherit the representatives' similarity.
    * `simCol` names the similarity column produced by `nearDups`.
    */
  def withExactPrepass(docs: DataFrame, simCol: String, one: Column)(
      nearDups: DataFrame => DataFrame): DataFrame = {
    // The rep mapping is computed from a (doc_id, sha) PROJECTION — the only
    // rows that shuffle are ~40-byte (sha, id) pairs, never content (the
    // previous window-over-full-rows form repartitioned the whole corpus by
    // sha before any signature was computed). Content rows are then FILTERED
    // in place by a broadcast semi-join on the rep ids: one long per distinct
    // document. If the distinct count ever outgrows the broadcast budget,
    // drop the hint and collapse on signature rows instead (sha-identical
    // docs have identical signatures, so rep selection can run on the
    // compact (id, sha, sig) frame without ever touching content).
    val members = repMembers(docs)
      .localCheckpoint(true) // feeds the rep filter + both expansion joins
    val repIds = members.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"))
    val repDocs = docs.join(broadcast(repIds), Seq("doc_id"), "left_semi")
    val repPairs = nearDups(repDocs)
    val cross = repPairs
      .join(members.select(col("rep_id").as("doc_a"), col("doc_id").as("ma")), Seq("doc_a"))
      .join(members.select(col("rep_id").as("doc_b"), col("doc_id").as("mb")), Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col(simCol))
    val intra = members.alias("l")
      .join(members.alias("r"),
        col("l.rep_id") === col("r.rep_id") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        one.as(simCol))
    cross.unionByName(intra)
  }

  // ---------------------------------------------------------------- minhash

  def tokensCol(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** k-token shingles via built-ins: slice a token array at every offset.
    * (Kept as the reference form; the hot paths use the compiled kernel
    * `tokenShingles`, which mirrors this bit-for-bit.)
    */
  def shinglesCol(tokens: Column, k: Int): Column =
    when(size(tokens) < k, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", slice(tokens, i + 1, lit(k)))))

  /** Lowercased ASCII token stream of `text` as ONE UTF-8 byte buffer with
    * a single space between tokens — the window representation behind the
    * shingle kernels: token i occupies buf[starts(i), ends(i)), and the
    * k-shingle at i is the CONTIGUOUS range buf[starts(i), ends(i+k-1))
    * because the separators in the buffer are exactly the single spaces
    * `mkString(" ")` would insert. Returns null when any char ≥ 0x80
    * (String.toLowerCase is locale/length-unstable outside ASCII — callers
    * fall back to the String pipeline, same policy as [[normChars]]).
    */
  private final class TokenStream(val buf: Array[Byte], val starts: Array[Int],
      val ends: Array[Int], val n: Int)

  private def asciiTokenStream(text: String): TokenStream = {
    val t = if (text == null) "" else text
    val L = t.length
    // pass 1: sizes
    var i = 0; var nTok = 0; var bufLen = 0; var inTok = false
    while (i < L) {
      val c = t.charAt(i)
      if (c >= 0x80) return null
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) {
        if (!inTok) { nTok += 1; if (nTok > 1) bufLen += 1; inTok = true }
        bufLen += 1
      } else inTok = false
      i += 1
    }
    val buf = new Array[Byte](bufLen)
    val starts = new Array[Int](math.max(nTok, 1))
    val ends = new Array[Int](math.max(nTok, 1))
    // pass 2: fill
    i = 0; var w = 0; var ti = -1; inTok = false
    while (i < L) {
      val c = t.charAt(i)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) {
        if (!inTok) {
          if (ti >= 0) { buf(w) = ' '.toByte; w += 1 }
          ti += 1; starts(ti) = w; inTok = true
        }
        buf(w) = lc.toByte; w += 1; ends(ti) = w
      } else inTok = false
      i += 1
    }
    new TokenStream(buf, starts, ends, nTok)
  }

  /** FNV-1a 64 over ASCII bytes [start, end) — ≡ [[fnv1a]] of the same
    * chars (byte value == char value below 0x80).
    */
  private def fnvBytes(buf: Array[Byte], start: Int, end: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    while (i < end) { h ^= (buf(i) & 0xFFL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Shingle (i, k) byte range [start, end) in a token stream; the <k-token
    * (or zero-token) doc collapses to the single whole-stream shingle,
    * mirroring tokenShingles' mkString fallback.
    */
  @inline private def shingleRange(ts: TokenStream, i: Int, k: Int): (Int, Int) =
    if (ts.n == 0) (0, 0)
    else if (ts.n < k) (ts.starts(0), ts.ends(ts.n - 1))
    else (ts.starts(i), ts.ends(i + k - 1))

  /** Bit-identical to `minhashBandMins(tokenShingles(tokensOf(text), k),
    * lanes, bands)` with zero per-token/per-shingle allocation: FNV-1a
    * runs over contiguous byte windows of the token stream (duplicates
    * can't change a lane min). Property-pinned by ShingleKernelSpec.
    */
  def shingleBandMinsOf(text: String, k: Int, lanes: Int, bands: Int): Array[Array[Long]] = {
    val ts = asciiTokenStream(text)
    if (ts == null) return minhashBandMins(tokenShingles(tokensOf(text), k), lanes, bands)
    val mins = Array.fill(lanes)(-1L) // unsigned max
    val nSh = if (ts.n < k) 1 else ts.n - k + 1
    var i = 0
    while (i < nSh) {
      val (s, e) = shingleRange(ts, i, k)
      val f = fnvBytes(ts.buf, s, e)
      var l = 0
      while (l < lanes) {
        val h = graft.kg.CorpusGen.mix(f ^ laneConst(l))
        if (java.lang.Long.compareUnsigned(h, mins(l)) < 0) mins(l) = h
        l += 1
      }
      i += 1
    }
    val rows = lanes / bands
    Array.tabulate(bands)(b => mins.slice(b * rows, (b + 1) * rows))
  }

  /** Bit-identical to `hashedSet(tokenShingles(tokensOf(text), k))`:
    * offset XXH64 over the shingles' contiguous byte windows, then
    * sort + adjacent-dedupe (≡ hash-then-distinct, as in
    * [[ngramHashedSetOf]]). Property-pinned by ShingleKernelSpec.
    */
  def shingleHashedSetOf(text: String, k: Int): Array[Long] = {
    val ts = asciiTokenStream(text)
    if (ts == null) return hashedSet(tokenShingles(tokensOf(text), k))
    val nSh = if (ts.n < k) 1 else ts.n - k + 1
    val hs = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      val (s, e) = shingleRange(ts, i, k)
      hs(i) = XXH64.hashUnsafeBytes(ts.buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, e - s, laneSeed(0))
      i += 1
    }
    java.util.Arrays.sort(hs)
    var out = 0
    i = 0
    while (i < nSh) {
      if (out == 0 || hs(out - 1) != hs(i)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    if (out == nSh) hs else java.util.Arrays.copyOf(hs, out)
  }

  /** signatures(doc_id, band_id, band_hash: array<long>): H minhash lanes
    * split into `bands` bands of H/bands lane-mins each (standard
    * MinHash+LSH banding; the band key is the lane-min array). One
    * compiled kernel pass per doc.
    */
  def minhashBands(docs: DataFrame, shingleK: Int = 3, lanes: Int = 16,
      bands: Int = 4): DataFrame = {
    val bandsUdf = udf((text: String) => shingleBandMinsOf(text, shingleK, lanes, bands))
    docs.select(col("doc_id"), posexplode(bandsUdf(col("text"))).as(Seq("band_id", "band_hash")))
  }

  private val shingleSetUdf3 = udf((text: String) => shingleHashedSetOf(text, 3))

  private val jaccardUdf = udf((a: Seq[Long], b: Seq[Long]) =>
    sortedJaccard(longArr(a), longArr(b)))

  /** Candidate pairs from shared bands, verified with exact token-set
    * Jaccard ≥ threshold. Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  def minhashNearDups(docs: DataFrame, shingleK: Int = 3, lanes: Int = 16,
      bands: Int = 4, threshold: Double = 0.7, bucketCap: Int = 256,
      exactPrepass: Boolean = true): DataFrame = {
    val setUdf =
      if (shingleK == 3) shingleSetUdf3
      else udf((text: String) => shingleHashedSetOf(text, shingleK))
    def core(d: DataFrame): DataFrame = {
      val pairs = candidatePairs(minhashBands(d, shingleK, lanes, bands), bucketCap)
      val candIds = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      // localCheckpoint: feeds the size prune + both verify-join sides —
      // without it the shingle kernel re-runs per consumer.
      val sets = d.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), setUdf(col("text")).as("sset"))
        .localCheckpoint(true)
      sizePrunedPairs(pairs, sets, "sset", threshold)
        .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("set_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("set_b")), Seq("doc_b"))
        .withColumn("jaccard", jaccardUdf(col("set_a"), col("set_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }
    if (exactPrepass) withExactPrepass(docs, "jaccard", lit(1.0))(core)
    else core(docs)
  }

  /** All-pairs brute force over a SMALL (id, hashed-set) table WITHOUT
    * materializing pair rows: the whole table is broadcast as a plain
    * array, each row flatMaps its matches against the broadcast copy —
    * the cross product exists only inside the compiled loop, never as
    * joined rows carrying both arrays.
    */
  /** Index of `id` in an id-sorted broadcast array, or -1. */
  private def idIndex(all: Array[(Long, Array[Long])], id: Long): Int = {
    var lo = 0
    var hi = all.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = all(mid)._1
      if (v == id) return mid
      else if (v < id) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  private def bruteMatches(sets: DataFrame, threshold: Double,
      outA: String, outB: String, simName: String): DataFrame = {
    val spark = sets.sparkSession
    val gathered = sets.collect().map(r =>
      (r.getLong(0), longArr(r.getSeq[Long](1)))).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(gathered)
    // the probe takes ONLY the id and finds the row's own set in the
    // sorted broadcast — passing the set as a column forced the set-UDF
    // to evaluate a SECOND time in the distributed plan (once for the
    // driver collect above, once per probe row); id-only lets Catalyst
    // prune the set column from the probe side entirely. ids are sorted
    // and distinct, so "all(i)._1 > id" ≡ the suffix after the own index.
    val matchUdf = udf((id: Long) => {
      val all = bc.value
      val out = Seq.newBuilder[(Long, Double)]
      val idx = idIndex(all, id)
      if (idx >= 0) {
        val ga = all(idx)._2
        var i = idx + 1
        while (i < all.length) {
          val gb = all(i)._2
          // lossless size-ratio prune (the sizePrunedPairs invariant):
          // J ≤ min(|A|,|B|)/max(|A|,|B|), so a pair below threshold−1e-9
          // on the ratio can never verify — skip the O(|A|+|B|) merge.
          // Zero-size sets score J = 0 either way (threshold > 0 always
          // here); the 1e-9 slack mirrors sizePrunedPairs' rounding guard.
          val mn = math.min(ga.length, gb.length).toDouble
          val mx = math.max(ga.length, gb.length).toDouble
          if (threshold <= 0 || (mx > 0 && mn / mx >= threshold - 1e-9)) {
            val j = sortedJaccard(ga, gb)
            if (j >= threshold) out += ((all(i)._1, j))
          }
          i += 1
        }
      }
      out.result()
    })
    sets.select(col("doc_id").as(outA),
        explode(matchUdf(col("doc_id"))).as("m"))
      .select(col(outA), col("m._1").as(outB), round(col("m._2"), 4).as(simName))
  }

  /** Exact all-pairs token-shingle Jaccard ≥ threshold over a SMALL doc set
    * — the brute-force ground truth the LSH path is verified against
    * (recall specs + the DuckDB oracle for the exact-verify stage).
    */
  def minhashBrute(docs: DataFrame, shingleK: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val setUdf = udf((text: String) => shingleHashedSetOf(text, shingleK))
    val sets = docs.select(col("doc_id"), setUdf(col("text")).as("sset"))
    bruteMatches(sets, threshold, "doc_a", "doc_b", "jaccard")
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over tokens (weighted bit-vote). Scalar core shared
    * with tests; splitmix64 of the token's FNV-1a — stable across JVMs.
    */
  def simhashScalar(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    if (tokens != null) tokens.foreach { t =>
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      h = graft.kg.CorpusGen.mix(h)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  val simhashUdf = udf((tokens: Seq[String]) => simhashScalar(tokens))


  /** Near-dups by SimHash: band the 64 bits into 4×16-bit keys (any pair
    * within Hamming distance 3 shares ≥1 exact band), verify with
    * bit_count(xor) ≤ maxHamming. Returns (doc_a, doc_b, hamming).
    * `bucketCap` bounds the per-band fan-out like the other variants —
    * note capping weakens the "≥1 shared band" guarantee for members of a
    * dropped bucket, so the default is high; the exact pre-pass keeps
    * duplicate-heavy buckets from forming in the first place.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = 4096, exactPrepass: Boolean = true): DataFrame = {
    def core(d: DataFrame): DataFrame = {
      val withSim = d
        .select(col("doc_id"), simhashUdf(tokensCol(col("text"))).as("sim"))
      val banded = withSim.select(col("doc_id"), col("sim"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_hash"))): _*))
          .as("b"))
        .select(col("doc_id"), col("sim"), col("b.band_id"), col("b.band_hash"))
      val sized = banded.withColumn("bucket_sz",
        count(lit(1)).over(Window.partitionBy(col("band_id"), col("band_hash"))))
        .localCheckpoint(true)
      val ok = sized.filter(col("bucket_sz") <= bucketCap)
      ok.alias("l").join(ok.alias("r"),
          col("l.band_id") === col("r.band_id") &&
            col("l.band_hash") === col("r.band_hash") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
          bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming)
    }
    if (exactPrepass)
      withExactPrepass(docs, "hamming", lit(0L))(core)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
    else core(docs)
  }

  // ---------------------------------------------------------------- ngram

  /** Whitespace-normalized lowercase text (mirror of the Column form
    * `trim(regexp_replace(lower(text), "\\s+", " "))`).
    */
  def normText(text: String): String =
    if (text == null) "" else text.toLowerCase.replaceAll("\\s+", " ").trim

  /** Distinct character n-grams of the normalized text. Kept as the
    * readable formulation the scalar kernels below are property-pinned to
    * (NgramKernelSpec); the hot paths no longer call it.
    */
  def charGrams(text: String, n: Int): Array[String] = {
    val norm = normText(text)
    if (norm.length < n) Array(norm)
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= norm.length) { seen.add(norm.substring(i, i + n)); i += 1 }
      val out = new Array[String](seen.size)
      seen.toArray(out)
      out
    }
  }

  /** Java-regex `\s` (ASCII-only: space, \t, \n, \x0B, \f, \r). */
  private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Normalized chars of `text` as (buffer, length) — bit-identical to
    * [[normText]] but one allocation-free pass for ASCII inputs
    * (lowercase, collapse regex-\s runs to one space, trim). Any char
    * ≥ 0x80 falls back to the String pipeline: String.toLowerCase is
    * locale- and length-unstable outside ASCII (Turkish dotted I, ß→ss
    * never, İ→i+combining dot) and Java's \s is ASCII-only, so the
    * per-char form is exact ONLY below 0x80. NgramKernelSpec
    * property-pins the equality, non-ASCII and whitespace runs included.
    */
  private[ops] def normChars(text: String): (Array[Char], Int) = {
    if (text == null) return (Array.emptyCharArray, 0)
    val L = text.length
    var ascii = true
    var i = 0
    while (ascii && i < L) { if (text.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (!ascii) { val s = normText(text); return (s.toCharArray, s.length) }
    val out = new Array[Char](L)
    var len = 0
    var pendingSpace = false
    i = 0
    while (i < L) {
      val c = text.charAt(i)
      if (isRegexWs(c)) pendingSpace = len > 0 // a leading run is trimmed
      else {
        if (pendingSpace) { out(len) = ' '; len += 1; pendingSpace = false }
        out(len) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        len += 1
      }
      i += 1
    } // a trailing whitespace run leaves pendingSpace set and unflushed = trim
    (out, len)
  }

  /** FNV-1a 64 over chars [start, end) — ≡ `fnv1a(s.substring(start, end))`
    * without the substring.
    */
  private def fnvWindow(cs: Array[Char], start: Int, end: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    while (i < end) { h ^= cs(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Bit-identical to `minhashBandMins(charGrams(text, n), lanes, bands)`
    * with zero per-gram allocation: FNV-1a runs over char windows of the
    * normalized text in place (FNV over substring chars ≡ FNV over the
    * window), and duplicate grams are not deduped because a duplicate
    * cannot change a lane MIN — charGrams' LinkedHashSet existed only to
    * shrink the gram array it materialized. Property-pinned by
    * NgramKernelSpec.
    */
  def ngramBandMinsOf(text: String, n: Int, lanes: Int, bands: Int): Array[Array[Long]] = {
    val (cs, len) = normChars(text)
    val w = if (len < n) len else n // <n chars → the single whole-text gram
    val nWin = if (len < n) 1 else len - n + 1
    val mins = Array.fill(lanes)(-1L) // unsigned max
    var s = 0
    while (s < nWin) {
      val f = fnvWindow(cs, s, s + w)
      var l = 0
      while (l < lanes) {
        val h = graft.kg.CorpusGen.mix(f ^ laneConst(l))
        if (java.lang.Long.compareUnsigned(h, mins(l)) < 0) mins(l) = h
        l += 1
      }
      s += 1
    }
    val rows = lanes / bands
    Array.tabulate(bands)(b => mins.slice(b * rows, (b + 1) * rows))
  }

  /** Bit-identical to `hashedSet(charGrams(text, n))` (DISTINCT sorted
    * lane-0 XXH64 gram hashes) without per-gram substring/UTF8String
    * churn: an all-ASCII normalized text is UTF-8-encoded ONCE (byte ==
    * char below 0x80) and every window hashes in place via
    * XXH64.hashUnsafeBytes at an offset; any char ≥ 0x80 falls back to
    * per-window strings (window UTF-8 splicing is not surrogate-safe).
    * Sort-then-adjacent-dedupe ≡ `.distinct` + sort on the hash values —
    * the original dedupes AFTER hashing too, so hash-value identity is
    * the exact invariant either way. Property-pinned by NgramKernelSpec.
    */
  def ngramHashedSetOf(text: String, n: Int): Array[Long] = {
    val (cs, len) = normChars(text)
    val w = if (len < n) len else n
    val nWin = if (len < n) 1 else len - n + 1
    val hs = new Array[Long](nWin)
    var ascii = true
    var i = 0
    while (ascii && i < len) { if (cs(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) {
      val bytes = new Array[Byte](len)
      i = 0
      while (i < len) { bytes(i) = cs(i).toByte; i += 1 }
      var s = 0
      while (s < nWin) {
        hs(s) = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, w, laneSeed(0))
        s += 1
      }
    } else {
      var s = 0
      while (s < nWin) { hs(s) = xxLane(0, new String(cs, s, w)); s += 1 }
    }
    java.util.Arrays.sort(hs)
    var out = 0
    i = 0
    while (i < nWin) {
      if (out == 0 || hs(out - 1) != hs(i)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    if (out == nWin) hs else java.util.Arrays.copyOf(hs, out)
  }

  /** signatures(doc_id, band_id, band_hash) over character-n-gram sets. */
  def ngramBands(docs: DataFrame, n: Int = 4, lanes: Int = 16,
      bands: Int = 4): DataFrame = {
    val bandsUdf = udf((text: String) => ngramBandMinsOf(text, n, lanes, bands))
    docs.select(col("doc_id"), posexplode(bandsUdf(col("text"))).as(Seq("band_id", "band_hash")))
  }

  /** Character-n-gram Jaccard near-dup. Candidate blocking is BANDED
    * minhash over the gram set (lanes/bands as in minhashNearDups): a
    * band key combines `lanes/bands` minhashes, so buckets stay selective
    * even on a degenerate corpus with a tiny gram universe, where single-
    * lane or length-bucket blocking degenerates to O(N²) within-bucket
    * pairs. A pair at Jaccard j collides in ≥1 of 4 4-lane bands with
    * prob 1-(1-j⁴)⁴ ≈ 0.88 at j=0.8, ≈0.997 at j=0.9. Exact Jaccard
    * verifies every candidate; gram sets are computed ONCE, for candidate
    * doc_ids only.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 4, threshold: Double = 0.8,
      lanes: Int = 16, bands: Int = 4, bucketCap: Int = 256,
      exactPrepass: Boolean = true): DataFrame = {
    val gramsUdf = udf((text: String) => ngramHashedSetOf(text, n))
    def core(d: DataFrame): DataFrame = {
      val pairs = candidatePairs(ngramBands(d, n, lanes, bands), bucketCap)
      val candIds = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      // localCheckpoint: feeds the size prune + both verify-join sides —
      // without it the gram kernel re-runs per consumer.
      val sets = d.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), gramsUdf(col("text")).as("grams"))
        .localCheckpoint(true)
      sizePrunedPairs(pairs, sets, "grams", threshold)
        .join(sets.select(col("doc_id").as("doc_a"), col("grams").as("grams_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("grams").as("grams_b")), Seq("doc_b"))
        .withColumn("jaccard", jaccardUdf(col("grams_a"), col("grams_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    }
    if (exactPrepass) withExactPrepass(docs, "jaccard", lit(1.0))(core)
    else core(docs)
  }

  /** Exact all-pairs n-gram Jaccard over a SMALL doc set (ground truth). */
  def ngramBrute(docs: DataFrame, n: Int = 4, threshold: Double = 0.8): DataFrame = {
    val gramsUdf = udf((text: String) => ngramHashedSetOf(text, n))
    val sets = docs.select(col("doc_id"), gramsUdf(col("text")).as("sset"))
    bruteMatches(sets, threshold, "doc_a", "doc_b", "jaccard")
  }

  // ---------------------------------------------------------------- embedding

  /** Number of hyperplanes per hash table, scaled with corpus size so the
    * expected bucket occupancy stays ~targetBucket: planes ≈ log₂(N/target).
    * (The round-1 constant planes=4 meant 16 buckets/table forever —
    * bucket occupancy grows linearly with N → quadratic candidate pairs.)
    */
  def planesFor(nVec: Long, targetBucket: Int = 32): Int =
    math.max(4, math.min(24,
      math.ceil(math.log(math.max(nVec, 1).toDouble / targetBucket) / math.log(2.0)).toInt))

  /** Number of OR-amplification tables needed for `recall` at cosine
    * `threshold` given `planes` sign bits per table:
    * p_plane = 1 − acos(cos)/π; p_table = p_plane^planes;
    * tables = ln(1−recall)/ln(1−p_table).
    */
  def tablesFor(planes: Int, threshold: Double, recall: Double = 0.95,
      maxTables: Int = 64): Int = {
    val pPlane = 1.0 - math.acos(math.min(math.max(threshold, -1.0), 1.0)) / math.Pi
    val pTable = math.pow(pPlane, planes)
    if (pTable >= 1.0) 1
    else math.min(maxTables,
      math.max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - pTable)).toInt))
  }

  /** Fixed pseudo-random hyperplane as a scalar array (shared by the kernel
    * and the legacy Column form).
    */
  def planeVec(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = graft.kg.CorpusGen.mix(0x51ab5ea1L * (p + 1) + j)
      ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }

  /** Fixed pseudo-random hyperplane as an array literal column. */
  def planeCol(p: Int, dim: Int): Column =
    array(planeVec(p, dim).map(lit(_)).toSeq: _*)

  /** All tables' sign-bit bucket keys for one vector — one compiled pass
    * over a precomputed (tables×planes)×dim plane matrix.
    */
  def embeddingBits(v0: Seq[Float], planes: Int, tables: Int, dim: Int,
      mat: Array[Array[Double]]): Array[Long] = {
    val v = floatArr(v0)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bits = 0L
      var p = 0
      while (p < planes) {
        val plane = mat(t * planes + p)
        var dot = 0.0
        var j = 0
        val n = math.min(dim, v.length)
        while (j < n) { dot += v(j).toDouble * plane(j); j += 1 }
        if (dot >= 0) bits |= (1L << p)
        p += 1
      }
      out(t) = bits
      t += 1
    }
    out
  }

  /** (vec_id, table_id, bits) signature rows for `nVec` vectors. */
  def embeddingBands(embs: DataFrame, nVec: Long, dim: Int = 64,
      tables: Int = 16, planesOverride: Int = -1): DataFrame = {
    val planes = if (planesOverride > 0) planesOverride else planesFor(nVec)
    val mat = Array.tabulate(tables * planes)(p => planeVec(p, dim))
    val bitsUdf = udf((v: Seq[Float]) => embeddingBits(v, planes, tables, dim, mat))
    embs.select(col("vec_id"), posexplode(bitsUdf(col("embedding"))).as(Seq("table_id", "bits")))
  }

  /** Cosine of two float vectors (index-order accumulation — matches the
    * zip_with/aggregate Column form).
    */
  def cosineF(a0: Seq[Float], b0: Seq[Float]): Double = {
    if (a0 == null || b0 == null) return 0.0
    cosineArr(floatArr(a0), floatArr(b0))
  }

  def cosineArr(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private val cosineFUdf = udf((a: Seq[Float], b: Seq[Float]) => cosineF(a, b))

  /** Embedding-cosine near-dup over embeddings(vec_id, embedding): standard
    * multi-table random-hyperplane LSH — `tables` independent hash tables
    * of `planes` sign bits each (planes scales ~log₂N via planesFor, tables
    * sized by tablesFor for the recall target); a pair is a candidate if it
    * collides in ANY table (OR-amplification); candidates verified exactly
    * with a compiled cosine ≥ threshold.
    *
    * At scale: each vector emits `tables` (table_id, bits) keys; the only
    * shuffle is the bucket self-join, whose fan-out is bounded by
    * `bucketCap`.
    */
  def embeddingNearDups(embs: DataFrame, nVec: Long, dim: Int = 64,
      threshold: Double = 0.35, recall: Double = 0.95,
      bucketCap: Int = 1024, planesOverride: Int = -1,
      tablesOverride: Int = -1): DataFrame = {
    // nVec is REQUIRED (no default): sizing the planes from an implicit
    // embs.count() would silently add a full corpus pass at scale. Pass a
    // (possibly approximate) corpus size, or planesOverride to skip sizing.
    require(nVec >= 0 || planesOverride > 0,
      "embeddingNearDups needs nVec >= 0 (approximate corpus size) or an explicit planesOverride")
    val planes =
      if (planesOverride > 0) planesOverride
      else planesFor(nVec)
    val tables =
      if (tablesOverride > 0) tablesOverride
      else tablesFor(planes, threshold, recall)
    val keyed = embeddingBands(embs, -1L, dim, tables, planes)
      .withColumnRenamed("table_id", "band_id")
      .withColumnRenamed("bits", "band_hash")
      .withColumnRenamed("vec_id", "doc_id")
    // agg-pruned variant: the band domain is tables × 2^planes buckets —
    // tiny — so bucket sizing must not sort the full signature table
    val pairs = candidatePairsAgg(keyed, bucketCap)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    val candIds = pairs.select(col("vec_a").as("vec_id"))
      .unionByName(pairs.select(col("vec_b").as("vec_id"))).distinct()
    // localCheckpoint: the verify join consumes this on BOTH sides — the
    // un-checkpointed form duplicated the candIds distinct + embeddings
    // semi-join subtree per side (2 full evaluations, plan-visible)
    val vecs = embs.join(candIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    pairs
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .withColumn("cos", cosineFUdf(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components over the
    * pair graph, every member mapped to its cluster representative (the
    * min doc_id) — the dedup endgame: keep the representative, drop the
    * rest. Reuses the kg pipeline's iterative min-label propagation
    * (Canonicalize.components — localCheckpoint'd rounds, O(diameter)).
    * Only docs that appear in ≥1 pair are emitted (singletons keep
    * themselves trivially).
    */
  def dupClusters(pairs: DataFrame): DataFrame =
    graft.kg.Canonicalize.components(pairs.sparkSession,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("node").as("doc_id"), col("comp").as("cluster_rep"))

  /** Exact all-pairs cosine ≥ threshold (ground truth for recall specs) —
    * broadcast-array flatMap like bruteMatches, no pair-row materialization.
    */
  def embeddingBrute(embs: DataFrame, threshold: Double = 0.35): DataFrame = {
    val spark = embs.sparkSession
    val gathered = embs.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), floatArr(r.getSeq[Float](1)))).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(gathered)
    // id-only probe against the sorted broadcast (see bruteMatches): the
    // embedding column stays prunable on the probe side; sorted distinct
    // ids make "all(i)._1 > id" ≡ the suffix after the own index
    val matchUdf = udf((id: Long) => {
      val all = bc.value
      val out = Seq.newBuilder[(Long, Double)]
      var lo = 0
      var hi = all.length - 1
      var idx = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = all(mid)._1
        if (v == id) { idx = mid; lo = hi + 1 }
        else if (v < id) lo = mid + 1
        else hi = mid - 1
      }
      if (idx >= 0) {
        val va = all(idx)._2
        var i = idx + 1
        while (i < all.length) {
          val c = cosineArr(va, all(i)._2)
          if (c >= threshold) out += ((all(i)._1, c))
          i += 1
        }
      }
      out.result()
    })
    embs.select(col("vec_id").as("vec_a"),
        explode(matchUdf(col("vec_id"))).as("m"))
      .select(col("vec_a"), col("m._1").as("vec_b"), round(col("m._2"), 4).as("cos"))
  }
}
