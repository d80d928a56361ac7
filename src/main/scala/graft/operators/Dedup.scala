package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Tables

/** Deduplication suite for a training-data pipeline: exact, shingle-Jaccard,
  * MinHash+LSH, and SimHash near-dup detection.
  *
  * The reference deduplicates *tuples* by id for exactly-once delivery
  * (reference src/Streaming/worker.py:446-453, leader.py:241-246) — it has
  * no content dedup at all. This module adds the content-level operators a
  * 100 TB corpus needs, with the scale ladder made explicit:
  *
  *  - dd01 exact: shuffle 16-byte fingerprints, never bodies.
  *  - dd02 shingle-Jaccard: exact pairwise similarity via an inverted
  *    index: the shingled corpus is materialized ONCE (persist, native
  *    WordShingles kernel — array-lambda shingling is interpreted and
  *    ~10x slower), then ONE exchange groups postings into bounded
  *    per-shingle doc lists and pairs fall out of a narrow double
  *    explode (see pairCounts).
  *  - dd03 MinHash+LSH: the scale path. 128-perm signatures born in the
  *    scan projection (native single-pass MinHashSig kernel), 32 bands x
  *    4 rows, bucket-collision candidates, exact-Jaccard verification on
  *    the (tiny) candidate set only.
  *  - dd04 SimHash: 64-bit signature per doc from 64 conditional-sum
  *    aggregates over the token postings; near-dups = Hamming <= 3 via
  *    Manku-style block permutation (C(6,3) = 20 tables on ~32-bit keys
  *    of 3 intact blocks; pigeonhole keeps recall 1 with O(1) buckets at
  *    web scale).
  *
  * dd02 and dd03 deliberately produce the same output schema and (for this
  * corpus, where injected near-dups sit at J >= 0.9, far above the 0.8 LSH
  * threshold with 128 perms -> miss prob < 1e-7) the same rows, so dd03 is
  * checked against the same exact-Jaccard DuckDB oracle.
  *
  * The persisted index is per-query-invocation; Verify/Bench clear the
  * cache between queries.
  */
object Dedup {

  /** Postings for shingles shared by more docs than this are dropped from
    * pair generation: stop-shingles contribute quadratic join fan-out and
    * negligible Jaccard signal. (Never triggers at the test scale factors,
    * so oracle equality is unaffected.) */
  val MaxPostings = graft.core.InvertedIndex.StopKeyCap

  /** Shingled corpus (doc_id, sh: array<string> of distinct word
    * trigrams) via the native WordShingles kernel (codegen single pass;
    * the lambda formulation is interpreted and ~10x slower), materialized
    * so downstream branches reuse it instead of recomputing. */
  private def shingleIndex(s: SparkSession, d: String): DataFrame =
    // width-normalized BEFORE the shingle projection (layout-gated, see
    // Tables.wide: parquet scan parallelism is bounded by row groups,
    // and everything from shingling through the postings exchange's
    // map-side partial aggregation inherits the scan width). The floor
    // is 1k rows, not wide()'s shingle-grade 10k: this relation is
    // persisted and re-scanned by every downstream branch, and dd03
    // runs the 128-perm minhash kernel over it — ~100x a plain shingle
    // pass per row, so the exchange pays for itself far earlier.
    Tables.wideMin(s, d, "documents", 1000, "doc_id", "text")
      .select(col("doc_id"),
        org.apache.spark.sql.graftx.WordShinglesFunctions
          .word_shingles(col("text"), 3).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** dd02's exact >= 0.8 Jaccard pair relation over an ARBITRARY docs
    * relation (doc_id, text) — the pipeline capstone runs the dedup
    * stage on its quality-filtered corpus, not the raw table. Same
    * kernel chain as dd02 (word_shingles -> bounded inverted index ->
    * length-pruned pair counts), one code path, verified once. */
  private[graft] def jaccardPairsOf(docs: DataFrame): DataFrame = {
    val idx = graft.core.CacheScope.track(docs
      .select(col("doc_id"),
        org.apache.spark.sql.graftx.WordShinglesFunctions
          .word_shingles(col("text"), 3).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    jaccardFrom(pairCounts(explPostings(idx)), idx)
  }

  /** The Jaccard threshold every pair query/oracle in this family uses. */
  private val JaccardTau = 0.8

  /** Exploded postings (doc_id, n = |shingle set|, s). The size column
    * feeds the pair kernel's lossless length prune. */
  private def explPostings(idx: DataFrame): DataFrame =
    idx.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))

  /** (d1 < d2, c = shared-item count) — the shared bounded inverted-index
    * kernel (graft.core.InvertedIndex: one exchange, state capped at
    * df-cap+1, pairs from a narrow double explode; replaced the df-count
    * shuffle + join-back + self-equi-join formulation), with the AllPairs
    * length prune at [[JaccardTau]] (lossless: the dropped pairs cannot
    * reach the threshold). Callers that pre-filter df (dd03's candidate
    * verify) are unaffected by the cap re-check: candidate df <= full
    * df. */
  private def pairCounts(post: DataFrame,
      tau: Double = JaccardTau): DataFrame =
    graft.core.InvertedIndex.pairCountsLengthPruned(post, col("s"),
      col("doc_id"), col("n"), tau, MaxPostings)

  /** J from (d1, d2, c, n1, n2) pair counts. The carried sizes make this
    * a pure projection over the pair table for every document below the
    * pack saturation cap (2^15-1 shingles) — at sf1.0 the former
    * formulation's size join-back was two shuffle joins over ~40M pair
    * rows, dominating the query. Saturated rows (n = LenCap may be a
    * clamp, not the true size) fall back to the exact join-back, so the
    * result is bit-identical to the join formulation for ANY input:
    * the fallback side is empty unless a document exceeds 32k shingles.
    *
    * The fallback join stays a co-partitioned SHUFFLE join on doc_id,
    * never a broadcast: `sizes` is one row per DOCUMENT — ~16 GB at 1e9
    * docs, over Spark's 8 GB broadcast hard cap (PlanAuditSpec asserts
    * the shape). */
  private def jaccardFrom(pairs: DataFrame, idx: DataFrame,
      tau: Double = JaccardTau): DataFrame = {
    val SatCap = org.apache.spark.sql.graftx.PairsWithinRatio.LenCap
    val jac = (n1: Column, n2: Column) =>
      (col("c").cast("double") / (n1 + n2 - col("c"))).as("jaccard")
    // Branch DRIVER-side, not in the plan: a per-row fast/slow union
    // would re-execute the whole pair aggregation per branch (the
    // branches only diverge above the final agg — measured as a ~2x
    // dd02 regression), while one metadata-cheap max() on the persisted
    // shingle index decides the corpus-wide case exactly.
    val maxN = idx.agg(max(size(col("sh")))).head.getInt(0)
    if (maxN < SatCap) {
      // no document can saturate the packed length -> carried sizes are
      // exact and Jaccard is a pure projection over the pair table
      pairs.select(col("d1"), col("d2"), jac(col("n1"), col("n2")))
        .filter(col("jaccard") >= tau)
    } else {
      // some document exceeds 2^15-1 shingles: carried sizes may be
      // clamped, fall back to the exact size join-back for ALL pairs.
      // Co-partitioned SHUFFLE join on doc_id, never a broadcast:
      // `sizes` is one row per DOCUMENT — ~16 GB at 1e9 docs, over
      // Spark's 8 GB broadcast hard cap (PlanAuditSpec asserts the
      // shape).
      val sizes = idx.select(col("doc_id"), size(col("sh")).as("n"))
        .hint("shuffle_hash")
      pairs
        .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
        .select(col("d1"), col("d2"),
          jac(col("s1.n").cast("long"), col("s2.n").cast("long")))
        .filter(col("jaccard") >= tau)
    }
  }

  /** Containment pairs (c / min(|A|, |B|) >= [[ContainTau]]) over a
    * shingle index `(doc_id, sh)` via PPJoin-style prefix filtering
    * (Chaudhuri/Ganti/Kaushik ICDE'06 prefix filter; Xiao et al. WWW'08):
    * a qualifying pair needs c >= tmin(|A|) shared shingles where A is
    * the smaller doc, so at most |A| - tmin of A's shingles miss B — and
    * among A's first k = |A| - tmin + 1 shingles IN ANY FIXED ORDER at
    * least one must land in the intersection. Only those k "prefix"
    * shingles probe the inverted index for candidates (vs every shingle
    * in the unpruned kernel); ordering the prefix RAREST-FIRST (df asc)
    * makes the probed postings lists the shortest ones, so candidate
    * fan-out is sum_s |prefix(s)| * df(s) concentrated on small df
    * instead of sum_s df(s)^2. Two refinements on top of the classic
    * recipe (both lossless, both measured against this corpus's
    * uniform-df/bounded-vocab worst case):
    *  - shingles are relabeled to 8-byte sids with a RUNTIME-CHECKED
    *    injective hash (collision -> exact fallback), so the pair-scale
    *    exchanges move longs, never strings;
    *  - the prefix is over-long (e + m, [[PrefixSlack]]) and admission
    *    demands min(m, plen - e) prefix collisions — the pigeonhole
    *    still guarantees them for qualifying pairs, while the
    *    one-shared-rare-token false candidates (the quadratic bulk at
    *    bounded vocab: measured 50M pairs at sf2 for ~4k true rows) die
    *    before the verify join instead of inside it.
    * Exact verify is unchanged in spirit: every admitted pair is
    * rescored from the full capped shingle arrays (array_intersect), so
    * the emitted rows are IDENTICAL to the unpruned kernel's — the
    * prune is lossless (PpjoinContainmentSpec proves result equality
    * against [[containmentPairsUnpruned]] incl. planted boundary pairs).
    *
    * Three soundness details the spec pins:
    *  - tmin is the smallest integer c with round(c/n, 6) >= tau —
    *    computed in exact long arithmetic (`floor((A*n + S-1)/S)` with
    *    A = tau*2e6 - 1, S = 2e6), never a floating tau*n (which drops
    *    true boundary pairs);
    *  - the prefix is drawn from the doc's CAPPED postings (df in
    *    [2, cap]): the intersection is itself a subset of those, so the
    *    "at most k-1 non-intersecting" budget still covers the first k —
    *    and singleton/stop shingles never waste a probe;
    *  - a doc with fewer than k capped shingles probes with ALL of them:
    *    any qualifying intersection (c >= 1) is a subset and still hits.
    *
    * Sizes n are the FULL shingle-set sizes, packed in the posting long
    * (n << 48 | id) so the (n, id)-orientation (probe = packed-smaller
    * doc) and the containment denominator need no join-back. A corpus
    * with any doc >= 2^15 shingles falls back to
    * [[containmentPairsUnpruned]]'s exact size-join branch (packed
    * lengths saturate there), mirroring jaccardFrom.
    *
    * Scale shape: one postings exchange to group by shingle (the dd02
    * kernel), one to group capped postings by doc (df-sorted sid
    * arrays), a probe join on the sid, a map-side-combinable pair
    * collision count, and two co-partitioned verify joins on the packed
    * id over the (now tiny) admitted set — every aggregation state
    * df-cap- or doc-size-bounded. Replaces the unpruned kernel whose
    * pair fan-out grew ~N^2/vocab on bounded-vocabulary corpora
    * (measured sf1->sf2: 36.8 -> 129.4 s, 3.52x for 2x; rewritten:
    * ~14.5 -> ~28 s, ~1.9x — the AllPairs length prune dd02 uses is
    * unsound for containment, size-skewed pairs being the target). */
  /** Extra prefix length beyond the minimal e + 1 (see
    * [[containmentPairs]]): qualifying pairs must collide on
    * min(m, plen - e) prefix shingles, which filters the
    * single-shared-rare-token false candidates that otherwise dominate
    * the verify join on bounded-vocabulary corpora. */
  private val PrefixSlack = 3

  private[graft] def containmentPairs(idx: DataFrame,
      cap: Int = MaxPostings): DataFrame = {
    import org.apache.spark.sql.graftx.PairsWithinRatio
    // one aggregate action returns BOTH the LenCap guard and the doc
    // count for the occupancy gates below (r16 — was max() alone; the
    // count is free in the same pass)
    val hdr = idx.agg(max(size(col("sh"))), count(lit(1))).head(1).headOption
    val maxN = hdr.map(r => if (r.isNullAt(0)) 0 else r.getInt(0)).getOrElse(0)
    val nDocs = hdr.map(_.getLong(1)).getOrElse(0L)
    if (maxN >= PairsWithinRatio.LenCap.toInt)
      return containmentPairsUnpruned(idx, cap)
    val spark = idx.sparkSession
    val post = explPostings(idx).select(col("s"),
      PairsWithinRatio.pack(col("doc_id"), col("n")).as("pd"))
    // (s, ds) — df-capped per-shingle doc lists, the candidate index side.
    // Occupancy-gated exchange width (r16, Tables.keyedAt): this persist
    // and docIdx's below were 32-partition caches whose every downstream
    // pass scheduled shuffle.partitions tasks for MB-scale data — the
    // r15-verdict sf0.1 floor. Gate bound = the measured doc count from
    // the header aggregate; at >= 1k docs/core the gate is off and the
    // plan is byte-identical to r15's.
    val grouped = graft.core.InvertedIndex
      .groupedPostings(Tables.keyedAt(spark, nDocs, post, col("s")),
        col("s"), col("pd"), cap)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Relabel shingles as 8-byte sids = xxhash64(s): every downstream
    // stage — the probe join key, and above all the verify arrays
    // shipped through two pair-scale shuffles — then moves longs
    // instead of ~30-byte strings (measured 8-10x on the verify
    // exchange, the kernel's dominant cost; string arrays drove it to
    // 36 s of dd15's 47 s at sf1). The relabeling only has to be
    // INJECTIVE ON THIS CORPUS'S CAPPED VOCABULARY for correctness (c
    // counts equalities, so any 1:1 relabeling leaves the result
    // bit-identical) — and unlike the kernel-wide no-hash-keys rule
    // (InvertedIndex's doc), injectivity is CHECKED at runtime here: one
    // vocab-sized aggregate compares distinct shingles vs distinct
    // hashes, and on a collision (P ~ V^2/2^65; certain at web-corpus
    // vocab, never seen below ~1e9 keys) the query falls back to the
    // unpruned exact kernel instead of ever emitting a wrong count.
    val hashOk = grouped
      .agg(count_distinct(col("s")).as("ns"),
        count_distinct(xxhash64(col("s"))).as("nh"))
      .head()
    if (hashOk.getLong(0) != hashOk.getLong(1))
      return containmentPairsUnpruned(idx, cap)
    // per-doc capped shingles ordered rarest-first ((df, sid) — any
    // GLOBAL total order works, see the prefix argument above);
    // aggregation state is bounded by the doc's own shingle count
    // (< 2^15 in this branch)
    val nCol = shiftrightunsigned(col("pd"), 48)
    // smallest c with round(c/n, 6) >= tau, in exact long arithmetic
    val a = math.round(ContainTau * 2000000L) - 1
    def tminOf(n: Column): Column =
      floor((lit(a) * n + lit(1999999L)) / lit(2000000L))
    val tmin = tminOf(nCol)
    // OVER-LONG prefix: e + m rarest shingles (e = n - tmin misses
    // allowed, m = PrefixSlack) instead of the minimal e + 1. The
    // pigeonhole then guarantees a qualifying pair collides on >= m
    // prefix shingles (at most e of the e + m can miss B), so candidate
    // admission can demand m collisions instead of one — and false
    // pairs, which share ~n^2/vocab ~ 0.1 shingles on average, almost
    // never share m RARE ones. Measured at sf2: 50M single-collision
    // candidates -> the m = 3 count filter admits orders of magnitude
    // fewer, collapsing the verify join that dominated the kernel.
    val kCol = (nCol - tmin + lit(PrefixSlack.toLong)).cast("int")
    val docIdx = Tables.keyedAt(spark, nDocs, grouped
      .select(xxhash64(col("s")).as("sid"), size(col("ds")).as("df"),
        explode(col("ds")).as("pd")), col("pd"))
      .groupBy(col("pd"))
      .agg(sort_array(collect_list(struct(col("df"), col("sid")))).as("tk"))
      .select(col("pd"), col("tk").getField("sid").as("csh"),
        slice(col("tk").getField("sid"), lit(1), kCol).as("pref"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // NOTE (r16, VERDICT r15 #3): the r15 mat() barrier here (docIdx
    // feeds the probe side, the postings rebuild, and both verify join
    // sides) was REVERTED on measurement — with the occupancy-gated
    // widths above, the barrier pass lost on wall in BOTH regimes:
    // idle 32c A/B (3 alternating pairs, SPARK_GRAFT_MAT_OFF=dd15)
    // mat-on {1.65, 1.85, 1.67} vs mat-off {1.46, 1.72, 1.57} s, and
    // under a 16-core antagonist mat-off read <= mat-on as well (raw
    // records not committed; these figures are the record, VERDICT r16).
    // The persist stays (sequential reuse);
    // `grouped` is already warm via the hashOk injectivity probe.
    // candidates: prefix sids probe the full capped postings (rebuilt
    // from the encoded arrays — one narrow explode, no second string
    // exchange); the packed comparison orients probe = (n, id)-min
    // side. The per-pair collision count is map-side combinable (the
    // same shuffle class the plain distinct paid), and the admission
    // threshold r = max(1, min(m, plen - e)) degrades soundly when a
    // doc has fewer than e + m capped shingles: its prefix is then ALL
    // of them, any non-empty intersection is a subset, and r = 1.
    val n1 = shiftrightunsigned(col("p1"), 48)
    val e1 = n1 - tminOf(n1)
    val cands = docIdx
      .select(col("pd").as("p1"), size(col("pref")).as("plen"),
        explode(col("pref")).as("sid"))
      .join(docIdx.select(col("pd").as("p2"),
        explode(col("csh")).as("sid")).hint("shuffle_hash"), Seq("sid"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"), col("plen"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= greatest(lit(1L),
        least(lit(PrefixSlack.toLong), col("plen") - e1)))
      .select(col("p1"), col("p2"))
    // exact rescore: both verify joins co-partition on the packed id
    // against the per-doc array relation (one row per DOCUMENT — never a
    // broadcast build; same rule as jaccardFrom's fallback)
    val arr = docIdx.select(col("pd"), col("csh")).hint("shuffle_hash")
    cands
      .join(arr.as("a1"), col("p1") === col("a1.pd"))
      .join(arr.as("a2"), col("p2") === col("a2.pd"))
      .select(col("p1"), col("p2"),
        size(array_intersect(col("a1.csh"), col("a2.csh")))
          .cast("long").as("c"))
      .select(
        least(col("p1").bitwiseAND(lit(PairsWithinRatio.IdMask)),
          col("p2").bitwiseAND(lit(PairsWithinRatio.IdMask))).as("d1"),
        greatest(col("p1").bitwiseAND(lit(PairsWithinRatio.IdMask)),
          col("p2").bitwiseAND(lit(PairsWithinRatio.IdMask))).as("d2"),
        col("c"),
        // p1 is the (n, id)-min side, so n1 = min(|A|, |B|) exactly
        round(col("c").cast("double")
          / shiftrightunsigned(col("p1"), 48), 6).as("containment"))
      .filter(col("containment") >= ContainTau)
  }

  /** The pre-r8 unpruned containment kernel (dd02's inverted index with
    * the length prune OFF — it is unsound for containment). Kept as the
    * fallback for packed-length-saturated corpora and as the ground
    * truth PpjoinContainmentSpec proves [[containmentPairs]] equal to. */
  private[graft] def containmentPairsUnpruned(idx: DataFrame,
      cap: Int = MaxPostings): DataFrame = {
    import org.apache.spark.sql.graftx.PairsWithinRatio
    val post = explPostings(idx).select(col("s"),
      PairsWithinRatio.pack(col("doc_id"), col("n")).as("pd"))
    val unpacked = graft.core.InvertedIndex
      .pairCounts(post, col("s"), col("pd"), cap)
      .select(col("d1").bitwiseAND(lit(PairsWithinRatio.IdMask)).as("i1"),
        col("d2").bitwiseAND(lit(PairsWithinRatio.IdMask)).as("i2"),
        col("c"),
        shiftrightunsigned(col("d1"), 48).as("n1"),
        shiftrightunsigned(col("d2"), 48).as("n2"))
    val maxN = idx.agg(max(size(col("sh")))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    val base =
      if (maxN < PairsWithinRatio.LenCap) {
        val cont = round(col("c").cast("double")
          / least(col("n1"), col("n2")), 6)
        unpacked.select(least(col("i1"), col("i2")).as("d1"),
          greatest(col("i1"), col("i2")).as("d2"), col("c"),
          cont.as("containment"))
      } else {
        // a clamped length may understate min(|A|, |B|): resolve exact
        // sizes with the co-partitioned join (same shape, and same
        // never-at-test-scale trigger, as jaccardFrom's fallback)
        val sizes = idx.select(col("doc_id"), size(col("sh")).as("n"))
          .hint("shuffle_hash")
        unpacked
          .join(sizes.as("s1"), col("i1") === col("s1.doc_id"))
          .join(sizes.as("s2"), col("i2") === col("s2.doc_id"))
          .select(least(col("i1"), col("i2")).as("d1"),
            greatest(col("i1"), col("i2")).as("d2"), col("c"),
            round(col("c").cast("double") / least(col("s1.n"), col("s2.n"))
              .cast("long"), 6).as("containment"))
      }
    base.filter(col("containment") >= ContainTau)
  }

  /** Shared CTE block (everything after WITH) computing the shingle
    * inverted index and shared-count pairs `p(d1, d2, c)` with per-doc
    * set sizes `sz(doc_id, n)` — the common prefix of every
    * shingle-similarity oracle (Jaccard dd02..dd10, containment dd15). */
  private val pairCtes =
    """t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |    FROM t WHERE len(w) >= 3)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |ok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |shp AS (SELECT sh.doc_id, sh.s FROM sh JOIN ok ON sh.s = ok.s),
      |p AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
      |  FROM shp a JOIN shp b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** [[pairCtes]] extended with the >= 0.8 Jaccard pair relation
    * `jp(d1, d2, jaccard)`. */
  private val jaccardCtes =
    s"""$pairCtes,
      |jp AS (
      |  SELECT d1, d2,
      |    CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
      |  FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
      |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.8)""".stripMargin

  private val jaccardOracle =
    s"WITH $jaccardCtes\nSELECT d1, d2, jaccard FROM jp"

  /** Cross-snapshot (new x old) pairs oriented new -> (doc_id, dup_of);
    * shared by dd16 (inline) and dd17 (persisted-index probe), which
    * must produce identical rows. */
  private val incrementalOracle =
    s"""WITH $jaccardCtes,
       |b AS (SELECT d1, d2, jaccard,
       |    ('0x' || substr(md5(CAST(d1 AS VARCHAR)), 1, 8))::UBIGINT
       |      % 100 AS b1,
       |    ('0x' || substr(md5(CAST(d2 AS VARCHAR)), 1, 8))::UBIGINT
       |      % 100 AS b2
       |  FROM jp)
       |SELECT CASE WHEN b1 >= 90 THEN d1 ELSE d2 END AS doc_id,
       |  CASE WHEN b1 >= 90 THEN d2 ELSE d1 END AS dup_of, jaccard
       |FROM b WHERE (b1 < 90) <> (b2 < 90)""".stripMargin

  /** Connected components over jp via a recursive transitive closure;
    * cluster id = min reachable node. */
  private val clustersOracle =
    s"""WITH RECURSIVE $jaccardCtes,
       |edges AS (SELECT d1, d2 FROM jp UNION ALL SELECT d2, d1 FROM jp),
       |nodes AS (SELECT DISTINCT d1 AS node FROM edges),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT re.node, e.d2 FROM reach re JOIN edges e ON re.r = e.d1)
       |SELECT rep AS cluster_rep, COUNT(*) AS cluster_size FROM (
       |  SELECT node, MIN(r) AS rep FROM reach GROUP BY node)
       |GROUP BY rep""".stripMargin

  /** Deduplicated-corpus oracle (shared by dd08 and its pair-table form
    * dd10): every document except non-representative cluster members. */
  private val dedupCorpusOracle =
    s"""WITH RECURSIVE $jaccardCtes,
       |edges AS (SELECT d1, d2 FROM jp UNION ALL SELECT d2, d1 FROM jp),
       |nodes AS (SELECT DISTINCT d1 AS node FROM edges),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT re.node, e.d2 FROM reach re JOIN edges e ON re.r = e.d1),
       |m AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT node FROM m WHERE node <> rep)""".stripMargin

  val NumPerms = 128
  val Bands = 32 // x 4 rows per band

  /** Connected components over the >= 0.8 Jaccard pair graph as a
    * (node, rep) membership relation (rep = min doc_id in the component;
    * docs in no pair are absent). Shared by dd06 (cluster census) and dd08
    * (the deduplicated corpus). The pair graph is built through the SAME
    * kernel as dd02 (shingleIndex/pairCounts — one code path, verified
    * once). The thresholded graph is tiny relative to the corpus (it
    * scales with the duplicate rate, not the corpus size), so below a size
    * threshold we union-find on the driver in one pass; above it,
    * iterative min-label propagation (each round one shuffle; the standard
    * distributed-CC shape) — same answer, and the small path avoids paying
    * multi-second Spark-job round-trips per round on a few hundred edges. */
  private def clusterMembers(s: SparkSession, d: String): DataFrame = {
    val idx = shingleIndex(s, d)
    clusterMembersFromPairs(
      jaccardFrom(pairCounts(explPostings(idx)), idx)
        .select(col("d1"), col("d2")))
  }

  /** CC membership over an EXPLICIT (d1, d2) pair relation — the real
    * pipeline topology: pair mining (dd02/dd03) runs once and materializes
    * its output; clustering consumes that table downstream instead of
    * recomputing shingling + the inverted index per run (dd09/dd10 are
    * the query-entry form over a parquet pair table). Same CC kernel as
    * the inline path, so both produce identical members. */
  def clusterMembersFromPairs(pairsIn: DataFrame): DataFrame = {
    val s = pairsIn.sparkSession
    val pairs = graft.core.CacheScope.track(
      pairsIn.persist(StorageLevel.MEMORY_AND_DISK))
    val nPairs = pairs.count()
    if (nPairs <= 1_000_000L) {
      // driver union-find with min-root representatives (1M edges ≈ tens
      // of MB on the driver; anything larger takes the distributed path).
      // find() is iterative — union-by-min can build O(n) parent chains
      // on duplicate series, which would blow the stack recursively.
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElseUpdate(root, root) != root)
          root = parent(root)
        var cur = x // second pass: path compression
        while (parent(cur) != root) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      pairs.collect().foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) { val (lo, hi) = (math.min(a, b), math.max(a, b))
          parent(hi) = lo }
      }
      // pairs is dead the moment the collect lands (the result is a
      // driver-created relation) — release it here, scope or no scope
      pairs.unpersist(blocking = false)
      val members = parent.keys.toSeq.map(n => (n, find(n)))
      s.createDataFrame(members).toDF("node", "rep")
    } else {
      val edges = graft.core.CacheScope.track(pairs.unionByName(
        pairs.select(col("d2").as("d1"), col("d1").as("d2")))
        .persist(StorageLevel.MEMORY_AND_DISK))
      var labels = edges.select(col("d1").as("node"))
        .distinct().withColumn("label", col("node"))
      var changed = 1L
      var rounds = 0
      val maxRounds = 64
      while (changed > 0 && rounds < maxRounds) {
        val viaNeighbor = edges
          .join(labels, edges("d2") === labels("node"))
          .select(edges("d1").as("node"), col("label"))
        val next = labels.select(col("node"), col("label"))
          .unionByName(viaNeighbor)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        changed = next.join(labels.withColumnRenamed("label", "old"), "node")
          .filter(col("label") =!= col("old")).count()
        labels.unpersist(blocking = false) // superseded snapshot
        labels = next
        rounds += 1
      }
      // never return silently-wrong clusters: a component with diameter
      // beyond the round cap must fail loudly, not fragment
      require(changed == 0,
        s"dedup clustering did not converge within $maxRounds rounds")
      // the converged snapshot is scratch once the caller materializes
      graft.core.CacheScope.track(labels)
      labels.select(col("node"), col("label").as("rep"))
    }
  }

  /** The >= 0.8 Jaccard pair table, materialized once per dataset under
    * [[graft.core.IndexStore]]: the dd02 kernel writes it on first touch;
    * every later consumer reads the parquet. This is how a real pipeline
    * runs — pair mining once, clustering/filtering downstream — vs the
    * standalone dd06/dd08 entries, which must mine inline because the
    * correctness gate clears all state between queries. */
  private def pairTable(s: SparkSession, d: String): DataFrame =
    graft.core.IndexStore.loadOrBuild(s,
      graft.core.IndexStore.root(d) + "/jaccard_pairs") {
      val idx = shingleIndex(s, d)
      jaccardFrom(pairCounts(explPostings(idx)), idx)
        .select(col("d1"), col("d2"))
    }

  /** Jaccard pair relation `(d1 < d2, jaccard)` at an arbitrary
    * threshold — dd02's exact kernel (generation-time AllPairs length
    * prune at `tau`, lossless by the same argument as the 0.8 family)
    * exposed for consumers that need a DIFFERENT similarity graph than
    * the dedup one: [[Graphs]] mines its τ=0.5 document-similarity
    * graph here. Same plan shape as dd02 at any tau; only the prune
    * window (and so candidate volume) widens as tau drops. */
  private[graft] def jaccardGraph(s: SparkSession, d: String,
      tau: Double): DataFrame = {
    val idx = shingleIndex(s, d)
    jaccardFrom(pairCounts(explPostings(idx), tau), idx, tau)
  }

  /** [[pairCtes]] for oracle reuse outside this file ([[Graphs]] builds
    * its jp-at-τ CTE on top of the same shared prefix). */
  private[graft] def pairCtesSql: String = pairCtes

  /** The md5 snapshot bucket shared by dd12/dd16/dd17: a pure function
    * of doc_id (>= 90 = the "new batch"). */
  private def snapshotBucket(c: String): String =
    s"CAST(conv(substring(md5(CAST($c AS STRING)), 1, 8), 16, 10) " +
      s"AS BIGINT) % 100"

  /** The EXISTING snapshot's postings (s, doc_id, n = exact shingle-set
    * size), materialized once per dataset under [[graft.core.IndexStore]]
    * — dd17's probe-side index. Exact (unclamped) n rides along so even
    * the saturated-length fallback needs no corpus access. At 100 TB
    * this table is the standard inverted-index artifact (~tokens-sized);
    * partition/bucket it by a shingle hash so probes prune at the scan
    * (here a plain parquet + broadcast semi-join carries the same
    * plan shape). */
  private def oldPostings(s: SparkSession, d: String): DataFrame = {
    val path = graft.core.IndexStore.root(d) + "/postings_old"
    if (!graft.core.IndexStore.ready(s, path)) {
      val post = shingleIndex(s, d)
        .filter(expr(snapshotBucket("doc_id")) < 90)
        .select(col("doc_id"), size(col("sh")).as("n"),
          explode(col("sh")).as("s"))
      post.write.mode("overwrite").parquet(path)
    }
    // index-level stats, computed once at BUILD time (separate ready
    // check so an index persisted by an earlier layout self-heals): the
    // probe's saturation decision needs max(n) over the old side, and
    // paying a full index scan per increment for one number defeats
    // the point of the index
    if (!graft.core.IndexStore.ready(s, path + "_stats"))
      s.read.parquet(path).agg(max(col("n")).as("max_n"))
        .coalesce(1).write.mode("overwrite").parquet(path + "_stats")
    s.read.parquet(path)
  }

  /** Build-time max shingle-set size of the old snapshot (see
    * [[oldPostings]]); 0 for an empty index. */
  private def oldPostingsMaxN(s: SparkSession, d: String): Int = {
    val r = s.read.parquet(
      graft.core.IndexStore.root(d) + "/postings_old_stats").head(1)
    if (r.isEmpty || r(0).isNullAt(0)) 0 else r(0).getInt(0)
  }

  /** Raw LSH near-dup pair relation (v1, v2, cos_r) — dd07's scale
    * path; the driver-gated entry wraps it in [[pairAudit]]. */
  def embedNearDupLsh(s: SparkSession, d: String): DataFrame = {
      import org.apache.spark.sql.graftx.functions.{dot_product, l2_norm}
      import org.apache.spark.sql.graftx.SignBucketsFunctions.sign_buckets
      val L = 8
      val e = Tables.wide(s, d, "embeddings", "vec_id", "embedding")
        .select(col("vec_id"), col("embedding"),
          l2_norm(col("embedding")).as("nrm"))
        .filter(col("nrm") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // OCCUPANCY-ADAPTIVE plane count (Scale.lshPlanes; measured here:
      // 2.2 s at 5e3 vectors -> 78 s at 5e4 with fixed B=8, a 35x step
      // for 10x data; 22.7 s = linear with the adaptive B). The recall
      // trade at the marginal tau=0.45 is the intrinsic LSH one
      // documented above, while at production thresholds (>= 0.85)
      // per-plane agreement 0.86 keeps 8-table recall ~1 well past
      // B=20. The count() is one metadata-cheap job on the
      // already-persisted corpus.
      val B = Scale.lshPlanes(e.count())
      // per-corpus whitened HASHING view (default off — see Whitening):
      // candidate generation may move, every emitted pair is still
      // exact-rescored on the raw vectors below
      val hv = Whitening.hashingView(s, d, e)
      // RESCORE-IN-JOIN: the embedding and norm ride THROUGH the bucket
      // exchange, so the exact cosine is computed inline on each bucket
      // collision and the candidate RELATION never materializes. The
      // previous shape emitted the ~N*L*(B+1)*occupancy/2 candidate id
      // pairs (measured 1.2e8 rows at sf1.0), ran a distinct over them,
      // and joined the corpus back TWICE to rescore — three shuffles of
      // a hundred-million-row relation that this formulation deletes
      // outright (measured: 45-140 s -> ~20 s at sf1.0). The trade is a
      // wider collision join (vec + 64 floats per row, N*L*(B+1) probe
      // rows), which is linear in N with a fixed constant, against
      // per-candidate-row shuffle overhead that was ~100x N. The final
      // distinct runs on the THRESHOLDED output — dup-rate-bounded, not
      // candidate-bounded (a pair colliding in several tables scores
      // identically, so distinct collapses it exactly).
      val own = e.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(sign_buckets(hv, B, L))
          .as(Seq("tbl", "bucket")))
      // probe own bucket + every 1-bit flip: catches any pair whose
      // bucket ids differ by <= 1 plane in some table
      val probe = own.select(col("vec_id"), col("embedding"), col("nrm"),
        col("tbl"),
        explode(array(col("bucket") +: (0 until B).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))
      // probe/own are per-VECTOR x L tables (x B+1 probes): pin the
      // collision join to sort-merge on (tbl, bucket) — a broadcast build
      // of either side fails outright at 1e9 vectors.
      probe.as("x").join(own.hint("merge").as("y"),
          col("x.tbl") === col("y.tbl") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
          round(dot_product(col("x.embedding"), col("y.embedding")) /
            (col("x.nrm") * col("y.nrm")), 6).as("cos_r"))
        .filter(col("cos_r") >= 0.45)
        .distinct()
  }

  /** Raw SemDeDup cluster-scoped pair relation (v1, v2, cos_r); the
    * driver-gated entry wraps it in [[pairAudit]] (subset-only — there
    * is no collision model for cross-cluster misses). */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
      import org.apache.spark.sql.graftx.functions.{dot_product, l2_norm}
      import graft.functions.VectorFunctions.l2
      val TargetM = 512
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val nVec = e.count()
      val k = math.min(math.max(8, (nVec / TargetM).toInt), 65536)
      // adaptive quantizer: flat Lloyd's below k ~ 2e3 (each pass is
      // scan-bound there — see Clustering.TwoLevelMinK), two-level
      // above, where the flat N x k assignment is the N^2/512 cliff
      // (at 1e9 vectors, k ~ 2M: flat is ~2e15 distance evals; the
      // two-level N * 2*sqrt(k) path is ~5e4x less).
      val (assigned, centroids) = Clustering.kmeansTwoLevelFull(e, k,
        iters = 2, rowsHint = nVec)
      val a = assigned
        .join(broadcast(centroids), "cl")
        .select(col("cl"), col("vec_id"), col("embedding"),
          l2_norm(col("embedding")).as("nrm"),
          l2(col("embedding"), col("cvec")).as("cdist"))
        .filter(col("nrm") > 0)
      val bw = org.apache.spark.sql.expressions.Window.partitionBy(col("cl"))
      // mat(): pos feeds the probe explode and BOTH join sides of one
      // action — cold-cache concurrent first-touch re-ran the window +
      // centroid join per branch (Tables.mat). Occupancy-gated cl-
      // exchange width (r16, Tables.keyedAt, bound = the vector count
      // already collected above): the window reuses the gated
      // partitioning and the pos cache stops being a 32-partition
      // relation whose every pass schedules 32 tasks at MB scale.
      val pos = Tables.mat(Tables.keyedAt(s, nVec, a, col("cl"))
        .withColumn("pos", row_number().over(
          bw.orderBy(col("cdist").asc, col("vec_id").asc)))
        .withColumn("m", count(lit(1)).over(bw))
        .persist(StorageLevel.MEMORY_AND_DISK))
      // forward-only: (p, p+j), j = 1..min(m - p, W(m)) — each unordered
      // candidate pair generated exactly once, no distinct needed. The
      // probe side drops its embedding before the explode (joined back
      // below) so the fan-out carries ids only.
      //
      // W(m) is OCCUPANCY-ADAPTIVE: TargetM - 1 for cells at or under
      // TargetM members (exact within-cluster all-pairs — the paper's
      // regime, and the only regime below ~33M vectors where mean
      // occupancy <= TargetM), shrinking as TargetM^2/m for oversized
      // cells so per-CELL candidate volume is capped at ~TargetM^2
      // no matter how skewed the occupancy distribution gets. The
      // previous fixed cap (TargetM - 1 per row) bounded per-ROW fan-out
      // but let a cell of m members cost m * TargetM — and k-means
      // occupancy skew under 2 Lloyd iterations made exactly that the
      // measured sf1->sf2 super-linearity (2.54x for 2x data): the mass
      // in oversized cells grows faster than N. With the per-cell cap,
      // total work is <= k * TargetM^2 + N * MinW — linear in N by
      // construction. The MinW = 64 floor keeps radius-adjacent
      // near-duplicates (cdist delta ~ perturbation size, so positions
      // differ by a handful of ranks) inside the window even in a
      // degenerate mega-cell; recall for the true-near-dup regime is
      // unchanged (planted-pair spec), while far-apart marginal pairs in
      // mega-cells — already best-effort under any windowing — are the
      // only candidates dropped.
      val MinW = 64
      val win = greatest(lit(MinW), least(lit(TargetM - 1),
        (lit(TargetM.toLong * TargetM) / col("m")).cast("int")))
      val probes = pos.filter(col("pos") < col("m"))
        .withColumn("j",
          explode(sequence(lit(1), least(win, col("m") - col("pos")))))
        .select(col("cl"), col("vec_id").as("va"),
          (col("pos") + col("j")).as("tpos"))
      // position join pinned to sort-merge (pos is per-vector — never a
      // broadcast build); the rescore join back to the per-vector
      // relation co-partitions on vec_id via shuffle-hash.
      val cand = probes.as("x").join(pos.hint("merge").as("y"),
          col("x.cl") === col("y.cl") && col("x.tpos") === col("y.pos"))
        .select(col("x.va").as("va"), col("y.vec_id").as("vb"),
          col("y.embedding").as("eb"), col("y.nrm").as("nb"))
      cand.join(pos.hint("shuffle_hash").as("z"),
          col("va") === col("z.vec_id"))
        .select(least(col("va"), col("vb")).as("v1"),
          greatest(col("va"), col("vb")).as("v2"),
          round(dot_product(col("z.embedding"), col("eb")) /
            (col("z.nrm") * col("nb")), 6).as("cos_r"))
        .filter(col("cos_r") >= 0.45)
  }

  /** Sample bound for the embedding pair-family audits. For canonical
    * a < b pairs, "pair touches the lowest-S vec_ids" collapses to
    * a < S (a < b and b < S imply a < S), so the exact reference is ONE
    * broadcast of S vectors against the corpus — O(S·N), LINEAR — never
    * the O(N^2) dd05 census (which stays the bench-gated anchor). At
    * the sf0.01 driver gate S >= N, so the sampled audit degenerates to
    * the FULL dd05 comparison there. */
  val DdAuditSample = 1000L

  /** Exact near-dup pairs (cos >= 0.45) whose lower id is in the audit
    * sample — dd05's kernel restricted to a broadcastable left side. */
  private[graft] def sampledExactPairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftx.functions.{dot_product, l2_norm}
    val e = Tables.wide(s, d, "embeddings", "vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        l2_norm(col("embedding")).as("nrm"))
    val sample = e.filter(col("vec_id") < DdAuditSample)
      .select(col("vec_id").as("v1"), col("embedding").as("e1"),
        col("nrm").as("n1"))
    // raw-double guard first, rounding on survivors (dd05's note)
    val raw = dot_product(col("e1"), col("embedding")) /
      (col("n1") * col("nrm"))
    e.join(broadcast(sample), col("v1") < col("vec_id"))
      .filter(raw >= 0.4499995)
      .select(col("v1"), col("vec_id").as("v2"), round(raw, 6).as("cos_r"))
      .filter(col("cos_r") >= 0.45)
  }

  /** Derived-bound audit for an approximate near-dup pair relation
    * (VERDICT r11 #4): DuckDB pins the sampled exact pair count; the
    * booleans assert (a) SUBSET — every emitted sampled pair is a
    * bit-equal member of the exact set (precision 1; structural for
    * rescore-in-join kernels, but the audit proves it rather than
    * trusting it) and (b) for `gwFloor` callers, sampled recall at or
    * above the Goemans-Williamson multiprobe model at the marginal
    * tau = 0.45 with 10% sampling slack — the same floors the r11
    * sidecar checkers graded. All counted relations are the sampled
    * pair sets (bounded by the true near-dup rate), never the corpus. */
  private def pairAudit(s: SparkSession, d: String, approx: DataFrame,
      gwFloor: Boolean): DataFrame = {
    import s.implicits._
    val exact = sampledExactPairs(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    val ap = approx.filter(col("v1") < DdAuditSample)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nExact = exact.count()
    val subsetOk = ap.exceptAll(exact).isEmpty
    if (gwFloor) {
      val found = exact.join(ap, Seq("v1", "v2", "cos_r"), "left_semi")
        .count()
      val n = Tables(s, d, "embeddings").count()
      val b = Scale.lshPlanes(n)
      val p = 1.0 - math.acos(0.45) / math.Pi
      val p1 = math.pow(p, b) + b * math.pow(p, b - 1) * (1 - p)
      val floor = 0.9 * (1.0 - math.pow(1.0 - p1, 8))
      val recallOk = nExact == 0 || found.toDouble / nExact >= floor
      Seq((nExact, subsetOk, recallOk))
        .toDF("n_exact_sample", "subset_sample_ok", "recall_floor_ok")
    } else {
      Seq((nExact, subsetOk))
        .toDF("n_exact_sample", "subset_sample_ok")
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: representative (min doc_id) per content fingerprint.
    "dd01_exact_dedup" -> ((s, d) => {
      Tables(s, d, "documents")
        .groupBy(graft.core.Fingerprints.content(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // Exact shingle-Jaccard near-dup pairs (the verification kernel).
    "dd02_jaccard_pairs" -> ((s, d) => {
      val idx = shingleIndex(s, d)
      jaccardFrom(pairCounts(explPostings(idx)), idx)
    }),

    // MinHash + LSH banding -> candidates -> exact-Jaccard verify.
    "dd03_minhash_lsh" -> ((s, d) => {
      val idx = shingleIndex(s, d)
      // postings exploded once, for the verify step only (global df cap +
      // candidate postings) — signatures no longer need them
      // matCand (r16): the reverted barrier, re-armable by env for the
      // saturated-topology A/B (VERDICT r15 next-#1); default no-op
      val expl = Tables.matCand(idx.filter(size(col("sh")) > 0)
        .select(col("doc_id"), size(col("sh")).as("n"),
          explode(col("sh")).as("s"))
        .persist(StorageLevel.MEMORY_AND_DISK), "dd03")
      // Per-row single-pass signature via the native MinHashSig kernel —
      // bit-identical to the old 128-column min(xxhash64) aggregate (same
      // hash chain) and to the streaming formulation (DocPipeline), but
      // born in the scan projection: no corpus explode, no 128-column-wide
      // exchange, no grouped aggregate at all.
      val rowsPerBand = NumPerms / Bands
      val sig = idx.filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          org.apache.spark.sql.graftx.NGramFunctions
            .minhash_sig(col("sh"), NumPerms).as("sig"))
      val bandStructs = (0 until Bands).map { b =>
        struct(lit(b).as("band"),
          hash((0 until rowsPerBand).map(i =>
              element_at(col("sig"), b * rowsPerBand + i + 1)) :+ lit(b): _*)
            .as("bh"))
      }
      val buckets = Tables.matCand(sig.select(col("doc_id"),
          explode(array(bandStructs: _*)).as("k"))
        .select(col("doc_id"), col("k.band"), col("k.bh"))
        // persisted: exchange reuse does NOT cover the self-join here
        // (AQE + the explode break identical-subtree matching; measured
        // 2.5s -> 3.5s without it, the minhash kernel running twice).
        // NOTE (r15): the persist alone still lets AQE's CONCURRENT
        // first-touch jobs (both self-join sides) each run the minhash
        // build on the cold cache — a Tables.mat barrier here removes
        // that CPU duplication but was MEASURED SLOWER on wall at sf0.1
        // (3 serial barrier passes vs duplicated-but-overlapped work:
        // quiet full run 3.65 -> 4.58 s, 8-core subset 3.51 -> 4.37 s)
        // and reverted; revisit on a saturated cluster where the
        // duplicated passes displace real work. (r16: re-armable via
        // SPARK_GRAFT_MAT_ON=dd03 for exactly that A/B — matCand.)
        .persist(StorageLevel.MEMORY_AND_DISK), "dd03")
      // band-bucket collisions; no distinct — the downstream left-semi
      // joins dedupe, and a distinct here is one more shuffle. The self
      // join is pinned to sort-merge: `buckets` is PER-DOCUMENT x 32
      // bands, so neither side may ever be a broadcast build (at 1e9 docs
      // that is 3.2e10 rows — far over the 8 GB broadcast cap); SMJ
      // co-partitions both sides on (band, bh) and spills per-key groups
      // (PlanAuditSpec asserts no per-row broadcast anywhere).
      // gated coalesce (r16): cand is scanned by candDocs (twice, via
      // the union) and the verify left-semi — at small inputs the SMJ's
      // shuffle.partitions-wide cache paid CPUS task launches per pass;
      // coalesce narrows the reduce stage without an exchange, gate off
      // at >= 1k docs/core
      val candJ = buckets.as("x")
        .join(buckets.hint("merge").as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      val cand = Tables.gatedParts(s,
          Tables.layout(s, s"$d/documents.parquet").rows)
        .map(candJ.coalesce).getOrElse(candJ)
        .persist(StorageLevel.MEMORY_AND_DISK)
      Tables.matCand(cand, "dd03")
      // Exact verify on the candidate set only, and through the SAME
      // capped-postings kernel as dd02 (postings of candidate docs only,
      // stop-shingles pruned identically), so the MaxPostings df-cap can
      // never make dd02, dd03, and the shared oracle diverge. Candidate
      // docs are a small fraction of the corpus, so the pair join stays
      // LSH-sized rather than corpus-sized.
      val candDocs = cand.select(col("d1").as("doc_id"))
        .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
      val dfOk = expl.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, MaxPostings))
        .select(col("s"))
      val candPost = expl.join(candDocs, Seq("doc_id"), "left_semi")
        .join(dfOk, "s")
      // shuffle-hash pinned (r15): once cand's cache is materialized its
      // InMemoryRelation carries EXACT size stats and AQE broadcast it
      // at test scale — but cand is the LSH candidate PAIR relation,
      // per-row-scaled (near-dup-rate x N), far over the 8 GB broadcast
      // cap at 1e9 docs (PlanAuditSpec's unreduced-broadcast guard
      // caught exactly this)
      val candCounts = pairCounts(candPost)
        .join(cand.hint("shuffle_hash"), Seq("d1", "d2"), "left_semi")
      jaccardFrom(candCounts, idx)
    }),

    // Near-dup cluster census over the clusterMembers CC pass (see its
    // doc for the driver/distributed split). As a standalone query it
    // must materialize the dd02 pair graph itself (the gate clears caches
    // between queries), so dd06's floor is dd02's cost + the cheap CC; in
    // a real pipeline the pair output of dd02/dd03 is the input here.
    "dd06_dedup_clusters" -> ((s, d) =>
      clusterMembers(s, d)
        .groupBy(col("rep").as("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"))),

    // The deduplicated corpus itself — what the dedup stage of a training
    // pipeline actually emits downstream: every document except the
    // non-representative members of each near-dup cluster (the cluster
    // representative, min doc_id, is kept). Removal is an anti join on
    // doc_id — at 100 TB the removal list scales with the duplicate rate,
    // not the corpus, and the corpus-side scan prunes to three columns.
    "dd08_dedup_corpus" -> ((s, d) => {
      val removed = clusterMembers(s, d)
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("doc_id"))
      Tables(s, d, "documents")
        .join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // dd06's census over the MATERIALIZED pair table (pairTable): pair
    // mining runs once per dataset; this entry pays only the CC stage +
    // a parquet read of the (dup-rate-sized) pair relation. Same oracle
    // as dd06 — rows must be identical.
    "dd09_clusters_from_pairs" -> ((s, d) =>
      clusterMembersFromPairs(pairTable(s, d))
        .groupBy(col("rep").as("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"))),

    // dd08's deduplicated corpus over the materialized pair table; the
    // corpus-side anti join is unchanged, the pair graph comes from
    // parquet. Same oracle as dd08.
    "dd10_dedup_corpus_from_pairs" -> ((s, d) => {
      val removed = clusterMembersFromPairs(pairTable(s, d))
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("doc_id"))
      Tables(s, d, "documents")
        .join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Embedding-cosine near-dup pairs, EXACT: all ordered pairs above
    // threshold — the verification baseline dd07 is measured against
    // (exactly as dd02's exact Jaccard anchors dd03's LSH). O(N^2) by
    // construction, and necessarily so: the corpus's above-threshold pairs
    // are MARGINAL (measured: every pair >= 0.45 lies in [0.45, 0.60] at
    // sf0.1 — there is no "far above threshold" cluster), and at tau=0.45
    // (63 deg) no sub-quadratic method has recall 1, so any bucketed plan
    // would change these oracle rows. The scale path is dd07 (sign-LSH
    // candidates + exact rescore, recall measured against this query).
    // Each vector's L2 norm is computed ONCE in the scan projection
    // (N ops), so the O(N^2) pair kernel is a dot product + one divide
    // instead of the fused 3-accumulator cosine — same bits (identical
    // left-to-right folds, dot/(n1*n2) == dot/(sqrt(na)*sqrt(nb))), one
    // third the pair-stage flops. Oracled bit-exact (same fold order as
    // DuckDB's list_sum).
    "dd05_embedding_neardup" -> ((s, d) => {
      import org.apache.spark.sql.graftx.functions.{dot_product, l2_norm}
      // persist so projection collapse cannot re-inline l2_norm into the
      // per-pair projection (which would silently undo the precompute)
      val e = Tables.wide(s, d, "embeddings", "vec_id", "embedding")
        .select(col("vec_id"), col("embedding"),
          l2_norm(col("embedding")).as("nrm"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Cheap raw-double guard FIRST: `round(x, 6)` evaluates through
      // BigDecimal(Double.toString) per call, ~100x the cost of the
      // comparison itself — running it on all N^2/2 pairs dominated the
      // whole query at sf>=1.0. The guard keeps the hot cartesian
      // predicate pure codegen'd double math (round(x,6) >= 0.45 implies
      // x >= 0.4499995) and defers rounding to the surviving pairs.
      val rawCos = dot_product(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))
      // Cartesian parallelism = leftParts x rightParts, and a compact
      // embeddings file scans as ONE partition (measured at sf1.0: the
      // whole O(N^2) pass ran on a single core). Spread the left side
      // across the cluster; the right side stays as-scanned so the
      // product's partition count grows linearly, not quadratically.
      val left = e.repartition(s.sparkContext.defaultParallelism)
      left.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(rawCos >= 0.4499995)
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
          round(rawCos, 6).as("cos_r"))
        .filter(col("cos_r") >= 0.45)
    }),

    // Embedding near-dup, SCALE PATH: candidate pairs from sign-LSH bucket
    // collisions (sim02's SignBuckets kernel; L tables x B planes,
    // multiprobe over the B Hamming-1 neighbor buckets), then EXACT
    // dot/norm rescoring of candidates only. Every emitted pair is
    // exact-verified, so output is a strict subset of dd05 (precision 1);
    // recall < 1 is intrinsic at tau=0.45 (p_agree = 1 - acos(0.45)/pi
    // ~ 0.65 per plane — the pairs are 63 deg apart) and is asserted
    // against dd05 in the spec with the measured floor. At a production
    // near-dup threshold (>= 0.85, p_agree >= 0.86) the same plan's
    // recall is ~1 and the candidate set is a vanishing corpus fraction —
    // B and L are the published knobs. Approximate by construction ->
    // rows-only check; subset/recall/determinism in NewOpsSpec.
    "dd07_embedding_neardup_lsh" -> ((s, d) =>
      pairAudit(s, d, embedNearDupLsh(s, d), gwFloor = true)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    // semantic near-dup pairs — k-means partitions the embedding space
    // and candidates are generated ONLY within a cluster, so the global
    // pair problem decomposes into k local ones: with k = N/TargetM the
    // mean cluster holds ~TargetM members and within-cluster pairwise
    // costs sum(m^2)/2 ~ TargetM*N/2 — LINEAR in N with the constant the
    // paper's k choice implies, not N^2 (that is the whole point of the
    // method). Members are ordered by distance-to-centroid (ties on
    // vec_id) and each probes its next min(m - pos, W(m)) ranked
    // successors under an occupancy-adaptive window (the W(m) comment
    // below): for any cluster at or under TargetM members that is
    // EXACTLY within-cluster all-pairs, while a skew-degenerate
    // mega-cluster is windowed in radius order (|d(a,c) - d(b,c)| <=
    // |a - b|, so the window keeps the nearest-radius candidates) with
    // per-CELL candidate volume capped at ~TargetM^2 at any skew. Every candidate is exact-rescored inline, so precision is 1
    // vs dd05 by construction; recall < 1 is intrinsic (pairs split
    // across clusters are never compared — the approximation the paper
    // accepts) and is asserted with a measured floor in the spec. Scale
    // shape: one cl-keyed exchange for the window, sort-merge position
    // join, one shuffle-hash join back for the probe side's vector,
    // k-bounded centroid broadcast (the driver-side codebook bound every
    // IVF index shares). k is CAPPED at 64k: the codebook lives on the
    // driver between Lloyd iterations (k x dim doubles; the per-iteration
    // mean collect is k x dim rows), so k = N/512 unbounded would grow
    // that collect with the corpus — at 1e9 vectors a ~1 GB codebook and
    // a 128M-row driver collect, the exact defect class the per-document
    // broadcast audit exists to catch. Capped, the codebook is <= 32 MB
    // at any N (the paper itself runs a FIXED cluster count at 100x this
    // corpus); above ~33M vectors mean cluster size grows past TargetM
    // and the radius-ordered window becomes the work bound — recall
    // degrades gracefully instead of the driver failing outright.
    // No SQL oracle (k-means is not SQL-expressible)
    // — subset-of-dd05 + recall floor + determinism in NewOpsSpec.
    "dd13_semantic_dedup" -> ((s, d) =>
      pairAudit(s, d, semanticDedup(s, d), gwFloor = false)),

    // SimHash: 64 conditional-sum aggregates over token postings build the
    // 64-bit signature; Hamming<=3 pairs via Manku-style block
    // permutation (the web-scale SimHash dedup scheme): the 64 bits split
    // into 6 blocks, and each of the C(6,3) = 20 tables keys on a
    // different choice of 3 INTACT blocks (~32-bit keys). Any pair within
    // Hamming distance 3 differs in at most 3 blocks, so some table keys
    // only on intact blocks and the pair collides there (recall 1 by
    // pigeonhole — the same guarantee 4x16-bit banding gave, but with
    // 2^32 buckets instead of 2^16: at 1e9 docs a 16-bit band bucket
    // holds ~15k docs = ~1e8 join pairs per bucket, while 32-bit keys
    // keep buckets O(1)). The exact bit_count verify keeps the emitted
    // pair set identical under either blocking.
    // FULLY oracled (r12): DuckDB replays xxhash64 itself (XxhSql) plus
    // the signature/banding stages — see the oracleSql entry.
    "dd04_simhash_pairs" -> ((s, d) => {
      val toks = Tables.wide(s, d, "documents", "doc_id", "text")
        .select(col("doc_id"), explode(expr(TextAnalysis.tokensExpr)).as("t"))
        .withColumn("h", xxhash64(col("t")))
      val bitSums = (0 until 64).map(b =>
        sum(when(expr(s"(h >> $b) & 1") === 1, 1L).otherwise(-1L)).as(s"s$b"))
      // occupancy-gated doc_id exchange (r16, Tables.keyedAt): the bands
      // persist inherits this width, so its self-join-side passes stop
      // scheduling shuffle.partitions tasks at MB scale; gate bound =
      // documents footer rows, off at >= 1k docs/core
      val sig = Tables.keyedAt(s,
          Tables.layout(s, s"$d/documents.parquet").rows, toks,
          col("doc_id"))
        .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .withColumn("sim", (0 until 64).map(b =>
          when(col(s"s$b") > 0, expr(s"CAST(1 AS BIGINT) << $b"))
            .otherwise(lit(0L))).reduce(_ bitwiseOR _))
        .select(col("doc_id"), col("sim"))
      val offs = Array(0, 11, 22, 33, 44, 54)
      val widths = Array(11, 11, 11, 11, 10, 10)
      val tables = (0 until 6).combinations(3).toSeq.zipWithIndex.map {
        case (intact, t) =>
          var sh = 0
          var key: org.apache.spark.sql.Column = lit(0L)
          intact.foreach { b =>
            key = key.bitwiseOR(shiftleft(
              expr(s"(sim >> ${offs(b)}) & ${(1L << widths(b)) - 1}"), sh))
            sh += widths(b)
          }
          struct(lit(t).as("band"), key.as("bh"))
      }
      // mat(): both self-join sides cold-touch bands concurrently —
      // without it each re-ran the 64-bit-sum signature aggregate
      // (Tables.mat; two parallel ~0.8 s jobs at sf0.1)
      val bands = Tables.mat(sig.select(col("doc_id"), col("sim"),
          explode(array(tables: _*)).as("k"))
        .select(col("doc_id"), col("sim"), col("k.band"), col("k.bh"))
        .persist(StorageLevel.MEMORY_AND_DISK))
      // bands is per-DOCUMENT x 20 tables — pin the collision self-join to
      // sort-merge so neither per-row side is ever a broadcast build
      bands.as("x").join(bands.hint("merge").as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          expr("bit_count(x.sim ^ y.sim)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    }),

    // Intra-corpus SPAN dedup (the C4 recipe, Raffel et al. 2020 §2.2,
    // adapted from three-sentence spans to fixed 10-word chunks — this
    // corpus has no sentence boundaries): a span occurring in >= 2
    // DISTINCT documents is boilerplate; per document, report how much
    // of it is duplicated elsewhere and whether it survives the < 0.5
    // cut. Complements dd02/dd03 (whole-document near-dup): span dedup
    // catches shared passages inside otherwise-distinct documents.
    // Shape at scale: one explode into non-overlapping spans (narrow —
    // N * words/10 rows), a distinct + count to get each span's
    // document frequency, and a co-partitioned SHUFFLE join-back on the
    // span key (the df relation is one row per DISTINCT SPAN — corpus-
    // scale, so broadcasting it would fail outright; the hint pins SHJ
    // the same way tx08's norm join is pinned). Spans shuffle as raw
    // strings for oracle exactness — the InvertedIndex key-width note
    // applies verbatim: a deployment can pre-hash to xxhash64 spans and
    // shrink the exchanges ~6x at the cost of bit-exactness.
    "dd11_span_dedup" -> ((s, d) => {
      val SpanW = 10
      val spans = Tables.wide(s, d, "documents", "doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= SpanW)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(w) DIV $SpanW - 1), " +
            s"i -> array_join(slice(w, i * $SpanW + 1, $SpanW), ' '))"))
          .as("span"))
      val df = spans.select(col("span"), col("doc_id")).distinct()
        .groupBy(col("span")).agg(count(lit(1)).as("nd"))
      spans.join(df.hint("shuffle_hash"), Seq("span"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum((col("nd") >= 2).cast("long")).as("n_dup_spans"))
        .withColumn("dup_frac",
          round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
        .withColumn("keep", col("dup_frac") < 0.5)
    }),

    // Incremental snapshot dedup — the crawl-pipeline topology dd01-dd08
    // don't model: an EXISTING corpus is already ingested, a new batch
    // arrives, and each new document must be checked against the existing
    // corpus, not just its own batch. Snapshots are modeled by the
    // portable md5 doc_id bucket (>= 90 -> the ~10% "new" batch); the
    // match key is a PREFIX fingerprint (md5 of the first 30 tokens) —
    // the cheap first tier real crawl dedup runs before MinHash, and the
    // right key for this corpus's tail-edited copies (exact-content fps
    // match nothing by construction). The existing side reduces to one
    // (fp, min doc_id) row per distinct fingerprint — corpus-cardinality,
    // so the join is pinned to a co-partitioned SHUFFLE hash join:
    // broadcasting a corpus-derived build side is the 8 GB-cap failure
    // the broadcast audit exists for, and an AGGREGATED build side would
    // pass that audit's lineage rule, which is exactly why this one is
    // pinned by hand. Only 16-byte fingerprints + ids cross the wire.
    "dd12_snapshot_dedup" -> ((s, d) => {
      val bucket = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) " +
          "AS BIGINT) % 100")
      // NULL fp for token-free docs (punctuation-only, non-Latin script):
      // md5('') would otherwise collide every contentless doc into one
      // spurious dup cluster. A NULL key never matches in the join, so
      // such docs come out is_dup=false — the only defensible semantics
      // for "no comparable content". (The oracle mirrors this with a
      // CASE ... END key and SQL's NULL-never-equal join rule.)
      val fp = expr(
        "CASE WHEN size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) " +
          "> 0 THEN md5(CAST(array_join(slice(regexp_extract_all(" +
          "lower(text), '[a-z0-9]+', 0), 1, 30), ' ') AS BINARY)) END")
      // persisted: the existing-side aggregate and the new-side probe
      // both consume this projection — one corpus text scan, not two
      // (16-byte fps + ids cached, never document bodies).
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), fp.as("fp"), bucket.as("bk"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val existing = docs.filter(col("bk") < 90 && col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("dup_of"))
      docs.filter(col("bk") >= 90)
        .join(existing.hint("shuffle_hash"), Seq("fp"), "left_outer")
        .select(col("doc_id"), col("dup_of"),
          col("dup_of").isNotNull.as("is_dup"))
    }),

    // Quality-aware canonical selection: per near-dup cluster, keep the
    // LONGEST member (n_chars; ties -> min doc_id) — the "keep best, drop
    // rest" step real dedup recipes run after clustering (keep-longest is
    // the standard no-model heuristic; swap the order column for a model
    // score and nothing else changes). The membership relation is
    // dup-rate-bounded, so the argmax window rides a tiny rep-keyed
    // exchange; the n_chars lookup joins members against a TWO-column
    // documents projection via co-partitioned shuffle-hash (the
    // documents side is one row per corpus document — never a broadcast
    // build; PlanAuditSpec's lineage rule audits exactly this).
    // Clusters come from the MATERIALIZED pair table (pairTable, the
    // dd09/dd10 path): canonical selection is a post-clustering step in
    // a real pipeline and must not re-mine the corpus pair kernel per
    // run — inline mining made this query cost within ~10% of
    // mine-everything dd06 (40.8 s at sf2) for an argmax the persisted
    // pair relation answers in ~1 s. Rows are identical to the inline
    // form: pairTable IS the dd02 kernel's output, written once.
    "dd14_cluster_canonical" -> ((s, d) => {
      val meta = Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("rep"))
        .orderBy(col("n_chars").desc, col("node").asc)
      clusterMembersFromPairs(pairTable(s, d))
        .join(meta.hint("shuffle_hash"), col("node") === col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("rep").as("cluster_rep"), col("node").as("kept_doc"),
          col("n_chars"))
    }),

    // Directed containment pairs: c / min(|A|, |B|) >= 0.9 — the subset-
    // duplication detector Jaccard structurally misses (a boilerplate
    // paragraph fully contained in a long page has J ~ |A|/|B| ~ 0 but
    // containment 1.0; quote/template mining is exactly this query).
    // PPJoin-style prefix-filtered: see [[containmentPairs]].
    "dd15_containment_pairs" -> ((s, d) =>
      containmentPairs(shingleIndex(s, d))),

    // Incremental NEAR-dup across snapshots: dd12 catches exact prefix
    // duplicates of a new batch against the existing corpus; this is its
    // fuzzy twin — every NEW document (dd12's >= 90 md5 bucket) whose
    // shingle-Jaccard with an EXISTING document clears the 0.8 gate,
    // with the matched doc and similarity. The restriction is pushed
    // INTO pair generation, not applied after it: the snapshot side is
    // a pure function of doc_id, so each posting carries a new/old flag
    // and the cross-pair kernel
    // ([[graft.core.InvertedIndex.pairCountsLengthPrunedCross]]) emits
    // only new x old candidates — per-key work |new-in-key| x in-ratio
    // window instead of df^2/2, so a 1% increment pays ~1% of full
    // mining (at 100 TB corpus + small batch, the difference between an
    // incremental query and re-mining the corpus). Same df cap, same
    // length prune, same Jaccard arithmetic as dd02's kernel; the
    // emitted pairs are exactly the cross-snapshot subset of dd02's
    // (asserted against the full-kernel formulation in the spec and by
    // the unchanged oracle).
    "dd16_incremental_neardup" -> ((s, d) => {
      val idx = shingleIndex(s, d)
      def bk(c: String) = snapshotBucket(c)
      // flag computed once per DOCUMENT (pre-explode), not per posting
      val post = idx
        .withColumn("is_new", expr(bk("doc_id")) >= 90)
        .select(col("doc_id"), col("is_new"), size(col("sh")).as("n"),
          explode(col("sh")).as("s"))
      // Restrict the GROUPING, not just pair generation, to shingles the
      // new batch touches: a cross pair's shared shingles are new-doc
      // shingles by definition, and a key with no new doc generates no
      // cross pair — so the semi-join is lossless (kept keys keep their
      // FULL posting lists, so df-cap semantics are unchanged too). The
      // new-shingle set is bounded by the new batch (AQE broadcasts it
      // at any realistic increment), turning the kernel's O(corpus)
      // postings exchange into a streamed scan-side filter + a grouping
      // over only the touched keys — with the cross generator below,
      // total incremental cost is ~ |new| x df, grouping included.
      val newSh = post.filter(col("is_new")).select(col("s")).distinct()
      val touched = post.join(newSh, Seq("s"), "left_semi")
      val cross = graft.core.InvertedIndex.pairCountsLengthPrunedCross(
        touched, col("s"), col("doc_id"), col("n"), col("is_new"),
        JaccardTau, MaxPostings)
      val jp = jaccardFrom(cross, idx)
      // orientation (new side -> doc_id) re-derives the bucket on the
      // tiny pair relation; the XOR filter is a kernel-contract
      // assertion — every generated pair is cross-snapshot already
      jp.withColumn("b1", expr(bk("d1"))).withColumn("b2", expr(bk("d2")))
        .filter((col("b1") < 90) =!= (col("b2") < 90))
        .select(
          when(col("b1") >= 90, col("d1")).otherwise(col("d2")).as("doc_id"),
          when(col("b1") >= 90, col("d2")).otherwise(col("d1")).as("dup_of"),
          col("jaccard"))
    }),

    // dd16's PROBE form over the PERSISTED inverted index ([[oldPostings]],
    // built once per dataset) — the topology an actually-incremental
    // pipeline runs: the existing corpus is never re-read, let alone
    // re-shingled. Per increment the query (1) shingles ONLY the new
    // batch, (2) broadcast-semi-joins the stored postings down to the
    // touched keys (kept keys keep their FULL old lists, so the df-cap
    // sees exactly the lists dd16's inline union would — bit-identical
    // admission), (3) runs the same cross-pair kernel on stored-old +
    // fresh-new postings. Rows identical to dd16 (same oracle): an
    // untouched key has no new doc and so no cross pair either way.
    // Cost: |new| shingling + touched-postings scan + |new| x df pair
    // work — nothing scales with the corpus except the one-time build.
    "dd17_incremental_probe" -> ((s, d) => {
      val SatCap = org.apache.spark.sql.graftx.PairsWithinRatio.LenCap
      def bk(c: String) = snapshotBucket(c)
      val newPost = Tables(s, d, "documents")
        .filter(expr(bk("doc_id")) >= 90)
        .select(col("doc_id"),
          org.apache.spark.sql.graftx.WordShinglesFunctions
            .word_shingles(col("text"), 3).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n"),
          explode(col("sh")).as("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val newSh = newPost.select(col("s")).distinct()
      val touchedOld = oldPostings(s, d).join(newSh, Seq("s"), "left_semi")
      val post = touchedOld.withColumn("is_new", lit(false))
        .unionByName(newPost.withColumn("is_new", lit(true)))
      val cross = graft.core.InvertedIndex.pairCountsLengthPrunedCross(
        post, col("s"), col("doc_id"), col("n"), col("is_new"),
        JaccardTau, MaxPostings)
      // jaccardFrom's exact contract WITHOUT the corpus-wide shingle
      // index: the saturation decision combines the index's BUILD-time
      // max_n stat with a max over the (persisted) new batch — no
      // probe-time index scan for one number — and the
      // never-at-test-scale size join-back derives from the touched
      // postings' exact carried n (every doc in a cross pair appears
      // there by construction)
      val jac = (n1: Column, n2: Column) =>
        (col("c").cast("double") / (n1 + n2 - col("c"))).as("jaccard")
      val newMaxRow = newPost.agg(max(col("n"))).head(1)
      val newMax =
        if (newMaxRow.isEmpty || newMaxRow(0).isNullAt(0)) 0
        else newMaxRow(0).getInt(0)
      val maxN = math.max(oldPostingsMaxN(s, d), newMax)
      val jp =
        if (maxN < SatCap)
          cross.select(col("d1"), col("d2"), jac(col("n1"), col("n2")))
            .filter(col("jaccard") >= JaccardTau)
        else {
          val sizes = post.select(col("doc_id"), col("n")).distinct()
            .hint("shuffle_hash")
          cross
            .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
            .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
            .select(col("d1"), col("d2"),
              jac(col("s1.n").cast("long"), col("s2.n").cast("long")))
            .filter(col("jaccard") >= JaccardTau)
        }
      jp.withColumn("b1", expr(bk("d1"))).withColumn("b2", expr(bk("d2")))
        .filter((col("b1") < 90) =!= (col("b2") < 90))
        .select(
          when(col("b1") >= 90, col("d1")).otherwise(col("d2")).as("doc_id"),
          when(col("b1") >= 90, col("d2")).otherwise(col("d1")).as("dup_of"),
          col("jaccard"))
    }),

    // ExactSubstr-style duplicated-span extraction (Lee et al., ACL'22
    // "Deduplicating Training Data Makes Language Models Better"): every
    // MAXIMAL run of >= SpanSeedLen consecutive tokens that also appears
    // in at least one OTHER document, reported per document with token
    // offsets — the operator behind substring-level dedup, where only the
    // duplicated span is cut and the rest of the document survives.
    // Document-level dedup (dd01-dd03) throws the whole doc away; dd11's
    // disjoint blocks can only flag a document, not delimit the span.
    // The paper's suffix array is a single-machine construction; the
    // Spark-first equivalent is sliding L-gram seeds + distributed
    // gaps-and-islands:
    //  1. every L-token window -> (doc, pos, gram) via posexplode over
    //     one transform pass in the scan projection;
    //  2. duplicated grams = grams in >= 2 DISTINCT docs ((gram, doc)
    //     distinct then a count — linear, partially aggregated map-side;
    //     no quadratic pair fan-out ever materializes);
    //  3. left-semi join positions against duplicated grams
    //     (shuffle-hash pinned: both sides are corpus-derived, so
    //     broadcasting either is the 8 GB-cap failure mode);
    //  4. per-doc islands: consecutive duplicated seed positions merge
    //     via the p - row_number() trick under a PER-DOCUMENT window
    //     (window state bounded by doc length, never corpus length).
    // A maximal duplicated span of m tokens contributes exactly its
    // m - L + 1 consecutive seed positions, so [min p, max p + L - 1]
    // reconstructs it exactly — recall 1 for spans >= L, the same
    // pigeonhole as the paper's seed-and-extend. Grams travel as strings
    // here for oracle exactness; the 100 TB path swaps the join key for
    // xxhash64(gram) (collision prob ~ n^2 / 2^64) with no change to the
    // plan shape.
    "dd18_exact_substring_spans" -> ((s, d) => {
      val L = SpanSeedLen
      // NOTE (r15): grams feeds the dup census AND the semi-join probe
      // side of one action, so the L-token gram generation runs twice,
      // concurrently (two ~1.2 s jobs at sf0.1). A persist + Tables.mat
      // barrier removes the CPU duplication but was MEASURED SLOWER on
      // wall (quiet full run 2.34 -> 2.91 s; 8-core subset 2.40 ->
      // 3.00 s — the serial barrier costs more than the overlapped
      // duplicate) and reverted; revisit on a saturated cluster.
      // (r16: re-armable via SPARK_GRAFT_MAT_ON=dd18 — matCandPersist.)
      // wideMin(1000) (r16): the L-token gram transform is a heavy
      // per-row pass run twice concurrently; occupancy width instead of
      // the 2-task scan width
      val grams = Tables.matCandPersist(
        Tables.wideMin(s, d, "documents", 1000, "doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= L)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(w) - $L), " +
            s"p -> array_join(slice(w, p + 1, $L), ' '))")))
        .toDF("doc_id", "p", "gram"), "dd18")
      val dup = grams.select(col("gram"), col("doc_id")).distinct()
        .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
      val hits = grams
        .join(dup.hint("shuffle_hash"), Seq("gram"), "left_semi")
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("p").asc)
      hits
        .withColumn("grp", col("p") - row_number().over(byDoc))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("p")).cast("long").as("span_start"),
          (max(col("p")) + L - 1).cast("long").as("span_end"),
          (max(col("p")) - min(col("p")) + L).cast("long").as("span_len"))
        .drop("grp")
    }),

    // dd18 APPLIED: the cleaned corpus. Every duplicated seed window is
    // CUT from every document except the canonical occurrence (the
    // minimum doc_id holding that seed gram — the paper's "all but one"
    // rule made deterministic), and the survivors' text is rebuilt.
    // Canonicality is per SEED, so a doc that canonically holds one part
    // of a long shared run keeps exactly that part — the rule stays
    // crisp under partial overlaps where "the" span has no global
    // identity. Pipeline: dd18's seed stage, + per-gram (min doc, nd)
    // stats, -> non-canonical seeds -> cut intervals [p, p+L-1] merged
    // per doc (lag/run-sum windows — PER-DOC state again) -> intervals
    // collected per doc (bounded by doc length) and joined back to the
    // corpus on doc_id, where one expression filters tokens by interval
    // membership and rejoins the text. NO token-grain relation is ever
    // exchanged: the alternative (explode every token, anti-join the cut
    // positions, re-aggregate) ships the whole corpus token stream
    // through three shuffles; this plan moves only seed-grain rows and
    // one interval array per affected doc.
    "dd19_substring_dedup_corpus" -> ((s, d) => {
      val L = SpanSeedLen
      // wideMin(1000) (r16): same rationale as dd18's gram build
      val base = Tables.wideMin(s, d, "documents", 1000, "doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      // same two-consumer fan-out as dd18 (census + join probe): the
      // persist+mat variant was measured slower on wall at sf0.1 and
      // reverted — see dd18's note (r16: SPARK_GRAFT_MAT_ON=dd19 re-arms)
      val grams = Tables.matCandPersist(base
        .filter(size(col("w")) >= L)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(w) - $L), " +
            s"p -> array_join(slice(w, p + 1, $L), ' '))")))
        .toDF("doc_id", "p", "gram"), "dd19")
      val st = grams.select(col("gram"), col("doc_id")).distinct()
        .groupBy(col("gram"))
        .agg(min(col("doc_id")).as("md"), count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
      val noncanon = grams
        .join(st.hint("shuffle_hash"), Seq("gram"))
        .filter(col("doc_id") =!= col("md"))
        .select(col("doc_id"), col("p"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("p").asc)
      val iv = noncanon
        .withColumn("pp", lag(col("p"), 1).over(byDoc))
        .withColumn("ng",
          when(col("pp").isNull || col("p") - col("pp") > L, 1L)
            .otherwise(0L))
        .withColumn("grp", sum(col("ng")).over(byDoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("p")).as("a"), (max(col("p")) + L - 1).as("b"))
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("a"), col("b"))).as("iv"))
      base.join(iv.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
        .withColumn("iv", coalesce(col("iv"),
          expr("CAST(array() AS array<struct<a:int,b:int>>)")))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_tok"),
          expr("aggregate(iv, 0, (acc, v) -> acc + v.b - v.a + 1)")
            .cast("long").as("n_cut"),
          md5(expr(
            "array_join(transform(filter(transform(w, (t, i) -> " +
              "named_struct('i', i, 't', t)), " +
              "x -> NOT exists(iv, v -> x.i >= v.a AND x.i <= v.b)), " +
              "x -> x.t), ' ')")).as("clean_fp"))
    })
  )

  /** Containment threshold for dd15. */
  val ContainTau = 0.9

  /** dd18 seed length in tokens: duplicated substrings of at least this
    * many tokens are extracted with exact offsets. The paper's 50-token
    * threshold scaled to this corpus's 25-70-token documents. */
  val SpanSeedLen = 15

  /** dd05's exact-pair kernel restricted to the audit sample (see
    * [[DdAuditSample]]), as a DuckDB CTE. */
  private lazy val sampledPairCte: String =
    s"""WITH p AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2
       |  FROM embeddings a JOIN embeddings b
       |    ON a.vec_id < b.vec_id AND a.vec_id < $DdAuditSample
       |  WHERE round(
       |    list_sum(list_transform(range(1, 65),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, 65),
       |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(range(1, 65),
       |         i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
       |    6) >= 0.45)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dd01_exact_dedup" ->
      s"""SELECT ${graft.core.Fingerprints.sqlContent("text")} AS fp,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dd02_jaccard_pairs" -> jaccardOracle,
    "dd06_dedup_clusters" -> clustersOracle,
    // pair-table forms must reproduce the inline queries exactly
    "dd09_clusters_from_pairs" -> clustersOracle,
    "dd10_dedup_corpus_from_pairs" -> dedupCorpusOracle,

    "dd14_cluster_canonical" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT d1, d2 FROM jp UNION ALL SELECT d2, d1 FROM jp),
         |nodes AS (SELECT DISTINCT d1 AS node FROM edges),
         |reach(node, r) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT re.node, e.d2 FROM reach re JOIN edges e ON re.r = e.d1),
         |m AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
         |jm AS (SELECT m.rep, m.node, d.n_chars FROM m
         |  JOIN documents d ON m.node = d.doc_id),
         |rk AS (SELECT rep, node, n_chars, ROW_NUMBER() OVER (
         |    PARTITION BY rep ORDER BY n_chars DESC, node ASC) AS rn
         |  FROM jm)
         |SELECT rep AS cluster_rep, node AS kept_doc, n_chars
         |FROM rk WHERE rn = 1""".stripMargin,

    "dd16_incremental_neardup" -> incrementalOracle,
    // dd17 is dd16's persisted-index probe form — rows must be identical
    "dd17_incremental_probe" -> incrementalOracle,

    "dd15_containment_pairs" ->
      s"""WITH $pairCtes
         |SELECT d1, d2, c,
         |  round(CAST(c AS DOUBLE) / least(s1.n, s2.n), 6) AS containment
         |FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE round(CAST(c AS DOUBLE) / least(s1.n, s2.n), 6) >= 0.9"""
        .stripMargin,
    "dd08_dedup_corpus" -> dedupCorpusOracle,
    "dd05_embedding_neardup" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  round(
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65),
        |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1, 65),
        |         i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
        |    6) AS cos_r
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65),
        |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1, 65),
        |         i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
        |    6) >= 0.45""".stripMargin,
    // dd03 finds the same pairs as dd02 for this corpus (see class doc);
    // verified against the same exact-Jaccard oracle.
    "dd03_minhash_lsh" -> jaccardOracle,

    // dd07/dd13 derived bounds: DuckDB pins the SAMPLED exact pair
    // count (dd05's kernel restricted to a.vec_id < DdAuditSample —
    // the same linear-cost reference the engine audit uses); the
    // subset/recall booleans are asserted in-engine
    "dd07_embedding_neardup_lsh" ->
      s"""$sampledPairCte
         |SELECT COUNT(*) AS n_exact_sample, TRUE AS subset_sample_ok,
         |  TRUE AS recall_floor_ok FROM p""".stripMargin,
    "dd13_semantic_dedup" ->
      s"""$sampledPairCte
         |SELECT COUNT(*) AS n_exact_sample, TRUE AS subset_sample_ok
         |FROM p""".stripMargin,
    // dd04: FULL cross-engine replay (r12). DuckDB recomputes Spark's
    // xxhash64 per token via graft.core.XxhSql (HUGEINT mod-2^64
    // arithmetic — see there for the exactness argument), rebuilds the
    // 64 conditional bit sums, the signature, all 20 Manku block-keyed
    // tables, and the Hamming<=3 collision join. The bit sums are exact
    // integer arithmetic and the signature/keys pure bit fields, so
    // every stage is engine-order-independent and the pair table is
    // bit-identical by construction.
    "dd04_simhash_pairs" -> {
      val bitSums = (0 until 64).map(b =>
        s"SUM(CASE WHEN (h // ${java.math.BigInteger.ONE.shiftLeft(b)
          }::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n    ")
      val simExpr = (0 until 64).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${java.math.BigInteger.ONE.shiftLeft(b)
          }::HUGEINT ELSE 0::HUGEINT END)").mkString(" + ")
      val offs = Array(0, 11, 22, 33, 44, 54)
      val widths = Array(11, 11, 11, 11, 10, 10)
      val tabs = (0 until 6).combinations(3).toSeq.zipWithIndex.map {
        case (intact, t) =>
          var sh = 0
          val parts = intact.map { b =>
            val p = s"(((simu // ${1L << offs(b)}::HUGEINT) % ${
              1L << widths(b)}) * ${1L << sh})"
            sh += widths(b)
            p
          }
          s"struct_pack(band := $t, bh := (${parts.mkString(" + ")})::BIGINT)"
      }
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
         |    '[a-z0-9]+')) AS t
         |  FROM documents),
         |${graft.core.XxhSql.hashCte},
         |sig AS (
         |  SELECT doc_id, $simExpr AS simu
         |  FROM (SELECT doc_id,
         |    $bitSums
         |  FROM hs GROUP BY doc_id)),
         |bands AS (
         |  SELECT doc_id,
         |    CASE WHEN simu >= 9223372036854775808::HUGEINT
         |      THEN (simu - 18446744073709551616::HUGEINT)::BIGINT
         |      ELSE simu::BIGINT END AS sim,
         |    unnest([${tabs.mkString(",\n      ")}], recursive := true)
         |  FROM sig)
         |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
         |  bit_count(xor(x.sim, y.sim))::BIGINT AS hamming
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sim, y.sim)) <= 3""".stripMargin
    },

    // dd11: DuckDB's 1-based inclusive list slice w[a:b] mirrors Spark's
    // slice(w, start, length); range(n) = 0..n-1 matches sequence(0, n-1).
    "dd11_span_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |s AS (
        |  SELECT doc_id, unnest(list_transform(range(len(w) // 10),
        |    i -> array_to_string(w[(i*10+1):(i*10+10)], ' '))) AS span
        |  FROM w),
        |df AS (SELECT span, COUNT(DISTINCT doc_id) AS nd
        |       FROM s GROUP BY span)
        |SELECT s.doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  round(CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_frac,
        |  round(CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) < 0.5 AS keep
        |FROM s JOIN df USING (span)
        |GROUP BY s.doc_id""".stripMargin,

    // dd18: DuckDB's zipped struct unnest mirrors Spark's posexplode;
    // range(n) = 0..n-1 matches sequence(0, n - 1), and the 1-based
    // inclusive slice w[(i+1):(i+L)] mirrors slice(w, i + 1, L). The
    // gaps-and-islands grouping key (p - ROW_NUMBER) is engine-exact
    // integer arithmetic under the identical (doc_id, p) total order.
    "dd18_exact_substring_spans" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 15),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 14),
        |    i -> {'p': i, 'g': array_to_string(w[(i+1):(i+15)], ' ')}))
        |    AS pg
        |  FROM w),
        |gp AS (SELECT doc_id, pg.p AS p, pg.g AS gram FROM g),
        |df AS (SELECT gram FROM gp GROUP BY gram
        |       HAVING COUNT(DISTINCT doc_id) >= 2),
        |dup AS (SELECT gp.doc_id, gp.p FROM gp JOIN df USING (gram)),
        |isl AS (SELECT doc_id, p,
        |  p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p ASC)
        |    AS grp FROM dup)
        |SELECT doc_id, MIN(p) AS span_start, MAX(p) + 14 AS span_end,
        |  MAX(p) - MIN(p) + 15 AS span_len
        |FROM isl GROUP BY doc_id, grp""".stripMargin,

    // dd19: the token-level rebuild goes through an explicit (doc, i,
    // token) anti-join in the oracle (clarity over cost — DuckDB is
    // single-node anyway); the Spark side rebuilds via interval arrays
    // without ever exchanging token-grain rows. string_agg(... ORDER BY
    // i) under the same index origin makes md5(cleaned) engine-exact.
    "dd19_substring_dedup_corpus" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 14),
        |    i -> {'p': i, 'g': array_to_string(w[(i+1):(i+15)], ' ')}))
        |    AS pg
        |  FROM w WHERE len(w) >= 15),
        |gp AS (SELECT doc_id, pg.p AS p, pg.g AS gram FROM g),
        |st AS (SELECT gram, MIN(doc_id) AS md,
        |    COUNT(DISTINCT doc_id) AS nd
        |  FROM gp GROUP BY gram),
        |nc AS (SELECT gp.doc_id, gp.p FROM gp JOIN st USING (gram)
        |  WHERE st.nd >= 2 AND gp.doc_id <> st.md),
        |l AS (SELECT doc_id, p, lag(p) OVER (
        |    PARTITION BY doc_id ORDER BY p ASC) AS pp FROM nc),
        |m AS (SELECT doc_id, p, SUM(CASE WHEN pp IS NULL OR p - pp > 15
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY p ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM l),
        |iv AS (SELECT doc_id, MIN(p) AS a, MAX(p) + 14 AS b
        |  FROM m GROUP BY doc_id, grp),
        |cut AS (SELECT doc_id,
        |    unnest(list_transform(range(b - a + 1), x -> a + x)) AS pos
        |  FROM iv),
        |tok AS (SELECT doc_id,
        |    unnest(list_transform(range(len(w)), i -> {'i': i, 't': w[i+1]}))
        |    AS it
        |  FROM w),
        |tk AS (SELECT doc_id, it.i AS i, it.t AS t FROM tok),
        |keep AS (SELECT tk.doc_id, tk.i, tk.t FROM tk
        |  LEFT JOIN cut ON tk.doc_id = cut.doc_id AND tk.i = cut.pos
        |  WHERE cut.pos IS NULL),
        |cl AS (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS cleaned
        |  FROM keep GROUP BY doc_id),
        |cn AS (SELECT doc_id, CAST(SUM(b - a + 1) AS BIGINT) AS n_cut
        |  FROM iv GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tok,
        |  coalesce(cn.n_cut, 0) AS n_cut,
        |  md5(coalesce(cl.cleaned, '')) AS clean_fp
        |FROM w LEFT JOIN cn USING (doc_id)
        |LEFT JOIN cl ON w.doc_id = cl.doc_id""".stripMargin,

    // dd12: DuckDB's 1-based inclusive list slice l[1:30] mirrors Spark's
    // slice(l, 1, 30); both engines md5 the same space-joined prefix, and
    // both leave fp NULL for token-free docs (NULL never joins).
    "dd12_snapshot_dedup" ->
      """WITH f AS (SELECT doc_id,
        |    CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
        |      THEN md5(array_to_string(
        |        regexp_extract_all(lower(text), '[a-z0-9]+')[1:30], ' '))
        |      END AS fp,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      % 100 AS bk
        |  FROM documents),
        |e AS (SELECT fp, MIN(doc_id) AS dup_of FROM f
        |      WHERE bk < 90 AND fp IS NOT NULL GROUP BY fp)
        |SELECT n.doc_id, e.dup_of, e.dup_of IS NOT NULL AS is_dup
        |FROM f n LEFT JOIN e ON n.fp = e.fp WHERE n.bk >= 90""".stripMargin
  )
}
