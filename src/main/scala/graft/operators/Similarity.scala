package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ArgExtremumAgg.{maxByAgg, minByAgg}

import graft.sources.Tables

/** Similarity search over the `embeddings` table (Array[Float] column).
  *
  * Two paths, as a 100 TB pipeline needs both:
  *  - **exact cosine** ([[q34CosinePairs]], [[q35KnnBrute]]): q35
  *    broadcasts the bounded query batch; q34 distributes the O(N²)
  *    all-pairs work as a balanced block-pair equality join (see its
  *    doc for why exactness at this threshold can't be sub-quadratic).
  *  - **ANN** ([[q36KnnLsh]] hyperplane LSH + multiprobe,
  *    [[q41KnnIvf]] IVF cells): candidate generation is an equality
  *    join on (table, bucket) / cell id, so it scales like the dedup
  *    LSH joins instead of quadratically.
  *
  * All vector math runs through the codegen'd native dot product
  * ([[graft.functions.DotProductF64]]) — no UDF, no interpreted HOFs,
  * no driver-side collect anywhere. Dot products accumulate in DOUBLE
  * left-to-right, so results are bit-stable and match the DuckDB
  * oracle exactly.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double
    * via the codegen'd [[graft.functions.VectorFunctions.dotD]] (single
    * IEEE ops, left-to-right fold — bit-stable across engines). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineD(a, b)

  val pairThreshold = 0.42
  val knnQueries = 10 // vec_id < 10 are the query batch
  val k = 5

  private[operators] def emb(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")

  import graft.functions.VectorFunctions.dotD

  /** (vec_id, v: array<double>, nrm): norms are computed ONCE per vector
    * before any pairwise join — the pair-level work drops to a single
    * codegen'd dot product + one division. Bit-identical to computing
    * the norm per pair (same expression over the same data). */
  private[operators] def prepped(spark: SparkSession, sfDir: String): DataFrame =
    prepped(emb(spark, sfDir))

  /** [[prepped]] over an embeddings frame the caller already read (a
    * request that also re-ranks against it reads the corpus once). */
  private[operators] def prepped(raw: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    raw.select(col("vec_id"), v.as("v"), sqrt(dotD(v, v)).as("nrm"))
  }

  /** The indexable/query-able predicate over the precomputed norm:
    * strictly positive AND finite. `nrm > 0` alone passes NaN and Inf
    * norms — Spark ranks NaN above every value (so NaN > 0 is TRUE),
    * and one NaN/Inf embedding component then detonates the ANSI
    * fixed-point casts inside every trainer (floor(NaN) cast to long
    * THROWS under ANSI, the session default) — the whole build dies on
    * one poisoned vector instead of excluding it like a zero vector.
    * A finite norm conversely bounds every component (|x| ≤ nrm), so
    * everything downstream stays in safe fixed-point range. NaN < Inf
    * is false in BOTH Spark and DuckDB (each ranks NaN above Inf), so
    * the same two-comparison text is the oracle's lockstep form (the
    * nz CTEs in SparkEntry). */
  private[operators] def validNorm: Column =
    col("nrm") > 0 && col("nrm") < Double.PositiveInfinity &&
      // r19 (ADVICE r18): length guard with the same exclusion
      // discipline as zero-norm vectors — residualSubVectors and the
      // pqCodebook sums index v positionally (col("v")(i)) under the
      // session's ANSI mode, so ONE short embedding would otherwise
      // throw INVALID_ARRAY_INDEX and abort a whole 100 TB build
      size(col("v")) === lit(dim)

  /** Pair-block fan-out for the exact all-pairs join: B blocks give
    * B·(B+1)/2 equal-sized independent tasks. */
  val pairBlocks = 8

  /** q34: embedding near-duplicate pairs — all pairs with cosine ≥ 0.42,
    * EXACT.
    *
    * An exact dense threshold join at t = 0.42 is inherently O(N²)
    * compute: with ±-signed 64-dim features there is no prefix/length
    * pruning (Bayardo-style bounds need non-negative weights), and
    * angular LSH can't carry the oracle either — at cosine 0.42 the
    * per-hyperplane collision probability is 0.638 vs 0.5 for random
    * pairs (ρ ≈ 0.65), so no finite table count makes misses *zero*,
    * and this query's contract is the exact result set. The question
    * is therefore not how to skip work but how to DISTRIBUTE it:
    *
    *  - each vector gets a hash block id g ∈ [0, B);
    *  - block pair (i ≤ j) becomes one join group: a vector plays
    *    "left" for groups (g, j≥g) and "right" for groups (i≤g, g);
    *  - the join is a plain equality join on the group id — B·(B+1)/2
    *    balanced tasks of |block|² pair evaluations, each needing only
    *    two blocks in memory, replication factor (B+1) per side.
    *
    * That replaces the old broadcast nested-loop self-join (whole table
    * broadcast to every executor — capped by executor memory, zero
    * scale-out) with a shape where parallelism and per-task memory are
    * tuned by B alone. The sub-quadratic ANSWER for this predicate
    * remains LSH candidates + exact verify ([[q36KnnLsh]]); this is the
    * exact baseline done as well as exact can be done.
    *
    * Cosine stays bit-identical under operand swap (per-element
    * products commute, the fold order over positions is unchanged), so
    * emitting pairs as (least, greatest) matches the oracle hash. */
  def q34CosinePairs(spark: SparkSession, sfDir: String): DataFrame =
    // validNorm like q35 and every ANN path: a zero-norm vector's
    // cosine is NaN (0/0), which Spark's `>= threshold` accepts (NaN
    // ranks above every value) while the oracle's NULL drops — one
    // zero vector would otherwise pair with EVERYTHING here, and q45
    // built on these pairs would then drop every higher-id vector
    // hash-repartition on the sort key BEFORE the global orderBy (the
    // q64 lesson): the range partitioner's sampling pass re-executes
    // its child, and here the child is the O(N²) pair join — measured
    // 2× the whole query at a 36k corpus (706 s vs 345 s for the same
    // join+filter without the sort). The exchange materializes the
    // join output once into shuffle files; sampler and sort then read
    // those instead of recomputing the join.
    exactPairs(prepped(spark, sfDir).filter(validNorm))
      .repartition(col("vec_a"))
      .orderBy(col("vec_a"), col("vec_b"))

  /** The body of [[q34CosinePairs]] over an arbitrary (vec_id, v, nrm)
    * frame (already validNorm-filtered): all pairs at cosine ≥
    * [[pairThreshold]], unordered. One definition, so every exact
    * screen (q34/q45, the ingest stream's within-batch dedup) shares
    * the same pair semantics. */
  private[operators] def exactPairs(in: DataFrame): DataFrame = {
    val b = pairBlocks
    val e = in
      .withColumn("g", pmod(xxhash64(col("vec_id")), lit(b)).cast("int"))
    val lhs = e.select(col("vec_id").as("id_l"), col("v").as("vl"),
      col("nrm").as("nl"), col("g").as("gl"),
      // groups (g, j) for j = g..B-1, encoded g*B + j
      explode(sequence(col("g") * b + col("g"),
        col("g") * b + lit(b - 1))).as("task"))
    val rhs = e.select(col("vec_id").as("id_r"), col("v").as("vr"),
      col("nrm").as("nr"), col("g").as("gr"),
      // groups (i, g) for i = 0..g, encoded i*B + g (step B)
      explode(sequence(col("g"), col("g") * b + col("g"), lit(b)))
        .as("task"))
    // shuffle_hash, not sort-merge: every task value is a block PAIR,
    // so both sides carry ~N/B rows PER KEY — and sort-merge buffers
    // the right group per key with a 4096-row in-memory threshold
    // (spark.sql.sortMergeJoinExec.buffer.in.memory.threshold), past
    // which the group spills and is RE-SCANNED from disk for every
    // left row. That cliff is why q34 read 808 s on a 36k corpus
    // (4500-row blocks) vs 20 s on a 32k one (4000-row blocks, just
    // under). Hash-building one block per task is ~N/B wide rows in
    // memory — bounded by the block dial — and value-independent.
    lhs.join(rhs.hint("shuffle_hash"), Seq("task"))
      .filter(col("gl") =!= col("gr") || col("id_l") < col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("vec_a"),
        greatest(col("id_l"), col("id_r")).as("vec_b"),
        (dotD(col("vl"), col("vr")) / (col("nl") * col("nr")))
          .as("cosine"))
      .filter(col("cosine") >= pairThreshold)
  }

  /** q45: embedding-cosine near-duplicate DEDUP — survivors after
    * dropping every vector that has a lower-id partner at cosine ≥
    * [[pairThreshold]] (the same keeper rule as the MinHash corpus
    * clean in q44). Pair generation reuses [[q34CosinePairs]]'s
    * balanced block-pair equality join, so the semantics stay EXACT at
    * the declared threshold; at a true near-dup threshold (cosine ≥
    * 0.9, where real duplicate embeddings live) the banded-LSH
    * candidate path of [[q36KnnLsh]] substitutes with a per-pair miss
    * probability below 1e-5 — at this fixture's near-orthogonal
    * random embeddings (max pairwise cosine ≈ 0.51) only the exact
    * path is meaningful. */
  def q45EmbedDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // exactPairs directly, NOT q34CosinePairs: q34's public surface
    // adds a repartition(vec_a) + global orderBy whose only purpose
    // is feeding ITS oracle's deterministic order — the repartition
    // exchange survives under this distinct (the sort folds away, the
    // shuffle does not), a full wasted pass over the O(N²) pair
    // stream per q45 run
    val dropped = exactPairs(prepped(spark, sfDir).filter(validNorm))
      .select(col("vec_b").as("vec_id")).distinct()
    emb(spark, sfDir).select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** q35: brute-force top-k cosine neighbors for the query batch
    * (vec_id < 10), deterministic tie-break on neighbor id.
    *
    * Zero-norm vectors are excluded from BOTH sides of the pairing:
    * their cosine is NaN (0/0), which Spark's descending sort ranks
    * FIRST (the zero vector would be everyone's #1 "neighbor") while
    * the DuckDB oracle's NULL ranks last — and every ANN path excludes
    * them by rule ([[rerankTopK]]'s isnan filter). The exact baseline
    * must share the "a zero vector is neither a neighbor nor a query"
    * semantics, or the recall gates would measure ANN against an
    * answer it is FORBIDDEN to return. The oracle applies the same
    * norm filter. */
  def q35KnnBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val e = prepped(spark, sfDir).filter(validNorm)
    val q = e.filter(col("vec_id") < knnQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scored = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dotD(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cosine"))
    // bounded top-k aggregate, not a row_number window (r18, guide
    // §2.3): the window shuffled and sorted all N×queries scored rows;
    // TopKAgg's map-side partials cap the exchange at k pairs per
    // query per task. Same (cosine DESC, neighbor_id ASC) total order,
    // unique ids ⇒ row-identical output (the recall gates' ground
    // truth is unchanged).
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg
        .topkAgg(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- LSH ANN --------------------------------------------------------------

  val lshTables = 16
  /** Floor (and legacy value) of the per-table bit count — the dial
    * the corpus size now SCALES (VERDICT r16 #2): at fixed 4 bits the
    * expected bucket held N/16 vectors, so a query's candidate stream
    * was ~N rows before the exact re-rank — brute force with extra
    * steps at 100× scale. [[lshBitsFor]] pins the expected bucket to
    * [[lshTargetBucket]] instead (bits ∝ log2(N/target)), which makes
    * the per-query candidate stream ~tables · probes · target — LOG-
    * linear in N (probes grow with the multiprobe radius only). The
    * recall the extra bits cost is bought back by [[lshProbeRadiusFor]]
    * widening multiprobe to Hamming radius 2 past 5 bits; the standing
    * 0.90 recall floor (Verify's gate, 4 scales) is the regression
    * net. At or below 2× the target bucket the legacy constants return
    * exactly (same planes, same buckets, bit-identical q36). */
  val lshBitsPerTable = 4
  /** Expected vectors per bucket the bit count aims for. */
  val lshTargetBucket = 128L
  private val lshMaxBits = 20

  def lshBitsFor(n: Long): Int =
    if (n <= lshTargetBucket) lshBitsPerTable
    else math.min(lshMaxBits, math.max(lshBitsPerTable,
      math.ceil(math.log(n.toDouble / lshTargetBucket) /
        math.log(2.0)).toInt))

  /** Multiprobe Hamming radius. Radius 1 through 11 bits: the
    * per-table hit probability Σ_{i≤1} C(b,i)p^(b−i)(1−p)^i decays
    * with b, but the per-plane agreement p of a TRUE top-k neighbor
    * RISES with N (top-k cosine is a max-order statistic — measured
    * p≈0.68 at 8k, ≈0.71 at 128k), and the two nearly cancel: 16-table
    * recall holds ≥0.9 at every probed scale (LSHPROBE_r17). Radius 2
    * from 12 bits (≳500k vectors) restores the C(b,2) term where
    * radius 1's predicted recall first dips below the floor; by then
    * probes·bucket ≪ N, so the wider probe set stays sub-linear.
    * Going wider EARLIER is counterproductive: at b=6–10 the radius-2
    * probe count × target bucket already rivals N — brute force again,
    * the exact failure this dial family exists to remove. */
  def lshProbeRadiusFor(bits: Int): Int = if (bits <= 11) 1 else 2

  private val lshMaxTables = 64

  /** Table count for a bit count — the second LSH axis the corpus
    * size scales (the first is [[lshBitsFor]]). Finer buckets lower
    * the per-table hit probability of a true neighbor; holding the
    * 0.90 recall floor then REQUIRES more OR'd tables — the classic
    * LSH N^ρ trade, priced explicitly instead of silently failing
    * recall (measured: 16 tables at 10 bits read 0.74 on the 128k
    * calibration corpus). Sizing model: per-plane agreement of a true
    * top-k neighbor on the near-uniform calibration corpora is p≈0.65
    * (the 128k measurement back-solves to 0.081 per-table hit at 10
    * bits; the model at p=0.65 predicts 0.086 — within noise), tables
    * = enough that the modeled miss Σ-product falls to 0.08. Floors
    * stay the regression net: the model sizes, Verify's 0.90 gate
    * decides. Capped at [[lshMaxTables]] (codegen expression width);
    * the legacy 16 is the floor, so legacy-scale corpora keep their
    * exact historical plan. On corpora with real cluster structure p
    * is far higher and the 16-table floor dominates. */
  def lshTablesFor(bits: Int): Int = {
    val p = 0.65
    val radius = lshProbeRadiusFor(bits)
    // per-table hit probability of a true neighbor under multiprobe:
    // Σ_{i≤radius} C(bits,i) p^(bits−i) (1−p)^i
    def choose(n: Int, k: Int): Double =
      (0 until k).map(i => (n - i).toDouble / (i + 1)).product
    val h = (0 to radius).map(i =>
      choose(bits, i) * math.pow(p, bits - i) *
        math.pow(1 - p, i.toDouble)).sum
    val needed = math.max(lshTables,
      math.ceil(math.log(0.08) / math.log1p(-h)).toInt)
    // the cap is a codegen-width ceiling, not a quality statement:
    // when the MODEL itself says the capped count misses the 0.08
    // target (≳10⁶ near-orthogonal vectors), say so at runtime
    // instead of letting recall decay silently past the gate scales
    // (ADVICE r17) — IVF×PQ (q69/q70) is the deployment path there
    if (needed > lshMaxTables && lshCapWarned.add(bits)) {
      val cappedMiss = math.pow(1 - h, lshMaxTables.toDouble)
      System.err.println(f"[graft] lshTablesFor(bits=$bits): model " +
        f"wants $needed tables, capped at $lshMaxTables — modeled " +
        f"miss rate $cappedMiss%.2f exceeds the 0.08 target; the " +
        "0.90 recall floor may not hold at this corpus scale. Use " +
        "the IVF×PQ index (q69/q70) for corpora this large.")
    }
    math.min(lshMaxTables, needed)
  }

  private val lshCapWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  val dim = 64

  /** Deterministic random hyperplanes, seeded — same planes every run.
    * The first [[lshBitsPerTable]] planes of the first [[lshTables]]
    * tables reproduce the legacy 16×4 block byte-for-byte (filled
    * first, from the same seed), so corpora at or below the legacy
    * scale hash to exactly the buckets they always did; the extension
    * planes (bit indices 4..19 of the legacy tables, then whole tables
    * 16..63, in that stream order) come from a second seeded stream. */
  private lazy val planes: Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(7)
    val base = Array.fill(lshTables, lshBitsPerTable, dim)(rng.nextGaussian())
    val rng2 = new scala.util.Random(7001)
    val extBits =
      Array.fill(lshTables, lshMaxBits - lshBitsPerTable, dim)(rng2.nextGaussian())
    val extTables =
      Array.fill(lshMaxTables - lshTables, lshMaxBits, dim)(rng2.nextGaussian())
    Array.tabulate(lshMaxTables)(t =>
      if (t < lshTables) base(t) ++ extBits(t) else extTables(t - lshTables))
  }

  /** Sign-bucket id of a double-array embedding under table t's first
    * `bits` hyperplanes (codegen'd dot per plane). */
  private def bucket(v: Column, t: Int, bits: Int): Column =
    (0 until bits).map { j =>
      val plane = array(planes(t)(j).toIndexedSeq.map(lit): _*)
      when(dotD(v, plane) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** (vec_id, embedding, table, bucket) — [[lshTablesFor]] rows per
    * vector. */
  def lshBuckets(e: DataFrame, bits: Int = lshBitsPerTable): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val nt = lshTablesFor(bits)
    e.select(col("vec_id"), v.as("embedding"),
      posexplode(array((0 until nt).map(t => bucket(v, t, bits)): _*)))
      .toDF("vec_id", "embedding", "table", "bucket")
  }

  /** Query-side multiprobe masks: all bucket-id XOR masks at Hamming
    * distance ≤ `radius` over `bits` bits (the identity mask first). */
  private[operators] def lshProbeMasks(bits: Int, radius: Int): Seq[Int] = {
    val singles = (0 until bits).map(1 << _)
    val pairs =
      if (radius < 2) Nil
      else for {
        i <- 0 until bits; j <- (i + 1) until bits
      } yield (1 << i) | (1 << j)
    0 +: (singles ++ pairs)
  }

  /** q41: IVF ANN — a spherical k-means coarse quantizer assigns every
    * vector to its nearest cell; a query probes only its `nprobe`
    * closest cells and re-ranks candidates exactly.
    *
    * The quantizer is trained HERE, distributed, in [[lloydIters]]
    * Lloyd rounds over DataFrames:
    *  - seeds: the [[nlist]] vectors with the smallest `xxhash64(id)`
    *    (TakeOrderedAndProject — deterministic, no global window, no
    *    driver collect), each seeding the cell named by its vec_id;
    *  - assign: broadcast the (tiny) centroid table, score with the
    *    codegen'd dot product, window-argmax per vec_id (partitioned
    *    window — parallelism scales with vectors, not cells);
    *  - update: per-cell mean of the assigned UNIT vectors in exact
    *    fixed-point LONG sums (the q37 pattern) so the trained
    *    centroids are bit-identical at any parallelism — which makes
    *    the whole approximate index reproducible run to run.
    * Each round is one broadcast join + one window + one combinable
    * aggregate; centroids are localCheckpoint'ed per round so the plan
    * never grows. No `.collect()` anywhere, plan size independent of
    * nlist. (An earlier revision used per-LABEL centroids — the label
    * is independent of the geometry, so cells carried no locality and
    * recall was ~0.56; geometric cells at the same probe fraction do
    * structurally better.) The candidate join stays an equality join
    * on the cell id — the second classic ANN scale path next to
    * [[q36KnnLsh]]'s hyperplane LSH. */
  val nprobe = 5
  val nlist = 16
  val lloydIters = 3

  /** Scale-aware index dials. The base constants above are calibrated
    * on the 500-vector fixture (where these functions return exactly
    * nlist 16 / nprobe 5 / shortlist 100, keeping every recall number
    * and gate floor of rounds ≤ 8 bit-identical); at larger corpora
    * the dials grow so RECALL, not just wall-clock, survives the
    * scale-up — Verify's recall gate at sf0.1 (2000 vectors, 4× the
    * fixture) measured the FIXED dials decaying to 0.58/0.58/0.48
    * from 0.72/0.82/0.72, the silent-quality-cliff failure mode of
    * approximate indexes:
    *  - [[nlistFor]]: cells ∝ √N (the standard IVF sizing, e.g. the
    *    FAISS guideline) — finer quantization as the corpus grows, so
    *    a probed cell keeps describing a comparable neighborhood;
    *  - [[nprobeFor]]: the (nl/16)^1.45 growth curve fitted through
    *    the two small calibrated sizes, CAPPED at a 0.45 probe
    *    fraction. Five measured (N, nl, minimal np for recall 0.78)
    *    points: (500, 16, 5 — fraction 0.31), (2000, 31, 13 — 0.42),
    *    (8000, 63, 18 — 0.29; measured round 10 on the decorrelated
    *    4× corpus of scripts/make_ann_calib.py — a constant fraction
    *    does not hold between the first two sizes, 10/31 probes read
    *    0.62, but the third size needs LESS than fraction-constant),
    *    (32000, 125, 36 — 0.288; round 11 on the 16× circular-shift
    *    corpus, sweep in ANN_CALIB_r11_32k.json), and (128000, 250,
    *    56 — 0.224; round 11 on the 64× lag-2-shift corpus, sweep in
    *    ANN_CALIB_r11_128k.json). The needed fraction FALLS
    *    monotonically across the last three decades (0.29 → 0.288 →
    *    0.224 — finer √N quantization describes each neighborhood
    *    better), so the 0.45 cap is a safely conservative upper bound
    *    that increasingly over-delivers (capped defaults read 0.96 at
    *    32k, 0.98 at 128k) rather than decaying. Round-15 note: under
    *    SAMPLE-BOUND training ([[trainPerCell]]) the 128k minimal-np
    *    point moves back to ~72 (fraction 0.288 — level with the
    *    8k/32k points; the r11 0.224 was partly a full-corpus-training
    *    artifact) and the capped default reads 0.90 there
    *    (ANN_BUILD_r15.json) — every measured point still sits under
    *    the cap, so the serving dial is unchanged.
    *    The round-9 two-point exponent alone does not generalize: it
    *    predicts np=36 at nl=63 (measured recall 0.92 — 2× the scan
    *    cost of the 0.78 target) and reaches np=nl (brute-force
    *    probing) at only N ≈ 92k, so the fraction cap is what makes
    *    the dial scale-viable: at most 0.45·nl cells are ever probed
    *    (the ceiling upper-bounds all three measured fractions), and
    *    the curve below the cap keeps both calibrated small sizes
    *    bit-identical. Geometry note: near-uniform 64-dim corpora are
    *    IVF's adversarial case; clustered real embeddings typically
    *    need a far smaller fraction — `-Dgraft.ann.nprobe=<n>` is the
    *    deployment override for re-calibrating on real data. The
    *    honest contract is RECALL HELD AT-OR-ABOVE the calibration
    *    target with scan cost reported, never scan cost held constant
    *    while recall silently decays;
    *  - [[shortlistFor]]: constant CANDIDATE FRACTION (1/5) — the ADC
    *    scan's shortlist keeps the same odds of containing the true
    *    top-k. This makes the ADC stage honestly linear-in-N at
    *    constant quality; a fixed shortlist is sub-linear only by
    *    silently giving up recall.
    * The corpus size is one `count()` at index-build time — noise next
    * to the Lloyd rounds that already scan the corpus, and a real
    * deployment knows its N. */
  def nlistFor(n: Long): Int =
    math.max(nlist, math.round(0.7 * math.sqrt(n.toDouble)).toInt)
  def nprobeFor(nl: Int): Int =
    sys.props.get("graft.ann.nprobe") match {
      case Some(s) =>
        // the override must WIN (including downward — clustered real
        // data is exactly the case that wants fewer probes than the
        // fitted curve), clamped only to the valid [1, nl] range; a
        // malformed value fails fast naming the property, not with a
        // bare NumberFormatException deep inside a query build
        val v = try s.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"-Dgraft.ann.nprobe must be an integer, got: '$s'")
        }
        math.min(nl, math.max(1, v))
      case None =>
        // growth curve through the two calibrated small sizes, capped
        // at the measured-safe 0.45 fraction (see the dial doc above);
        // the pow result rounds through Long so a huge nl cannot
        // overflow the Int before min takes the (always-valid) cap
        val curve = math.min(Int.MaxValue.toLong,
          math.round(nprobe * math.pow(nl.toDouble / nlist, 1.45))).toInt
        val cap = math.round(0.45 * nl).toInt
        math.min(nl, math.max(nprobe, math.min(cap, curve)))
    }

  /** Probe depth for the index-backed dedup screen ([[graft.operators
    * .IndexStore.queryEmbedDedup]]) — a CONSTANT, deliberately not
    * [[nprobeFor]]'s serving curve. Candidate-pair work is
    * N·np·(N/nl); with the serving dial's np ≈ 0.22-0.29·nl that is
    * ~0.22·N² — quadratic with a constant, measured indistinguishable
    * from the exact screen at the 128k corpus (132 s vs 138 s). Dedup
    * affords a much shallower probe than top-k serving because a pair
    * is caught from EITHER side (per-pair miss = one-directional miss
    * SQUARED), so a fixed depth holds recall where serving recall
    * would decay: measured dropped-id recall at np=12 is 0.96/0.91/
    * 0.93/0.92 across the 2k/8k/32k/128k corpora (flat over three
    * decades) vs the 0.85 floor, while np=8 reads 0.83-0.89
    * (below-floor at 8k) and np=4 reads 0.65-0.76. Constant np makes
    * pair work np·N²/nl ∝ N^1.5 under the √N cell count — the
    * SemDeDup complexity class — measured 40.9 s at 128k vs the exact
    * screen's 138 s and the serving-dial probe's 132 s. The
    * `-Dgraft.ann.nprobe` override wins here too (it is the
    * calibration surface these numbers came from). */
  def dedupNprobeFor(nl: Int): Int =
    sys.props.get("graft.ann.nprobe") match {
      case Some(_) => nprobeFor(nl)
      case None => math.min(nl, 12)
    }
  def shortlistFor(n: Long): Int =
    // Long division BEFORE the Int cast, clamped: at ~4e11 vectors
    // (the 100 TB regime) n/5 exceeds Int.MaxValue and a bare .toInt
    // would wrap negative — silently reverting to the fixed 100-wide
    // shortlist, the exact silent-recall-decay this function exists
    // to prevent
    math.max(pqShortlist.toLong, math.min(Int.MaxValue.toLong, n / 5)).toInt

  /** Launch an independent training chain on a second driver thread
    * (r18, guide §2.6 — overlap independent jobs): Spark happily runs
    * jobs from several driver threads at once, and the trainer chains
    * here are sequences of small blocking materialize actions that
    * leave most cores idle. Returns a join handle; `()` blocks and
    * rethrows the chain's failure. The overlapped body must be
    * independent of anything computed after launch (the caller's
    * other chain) — same-value-or-throw either way, so results cannot
    * depend on the interleaving.
    *
    * r19 (ADVICE r18): the body runs under its OWN JOB GROUP, and the
    * caller wraps its between-launch-and-join section in [[Overlap
    * .guarded]] — if that section throws, the background group's jobs
    * are cancelled and the future observed before the rethrow, so a
    * failed build never leaves orphan jobs racing the cluster (or a
    * silently dropped background failure). */
  private[graft] final class Overlap[T](
      sc: org.apache.spark.SparkContext, group: String,
      fut: scala.concurrent.Future[T]) extends (() => T) {
    def apply(): T = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration.Inf)
    /** Run the caller's own section; on ITS failure cancel the
      * background group, await the future briefly (observing its
      * outcome — never an unobserved dangling error), and rethrow the
      * caller's failure. */
    def guarded[U](section: => U): U =
      try section
      catch { case t: Throwable =>
        try {
          sc.cancelJobGroup(group)
          scala.concurrent.Await.ready(fut,
            scala.concurrent.duration.Duration(30, "seconds"))
        } catch { case _: Throwable => () }
        throw t
      }
  }

  private[graft] def overlapped[T](body: => T): Overlap[T] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val group = s"graft-overlap-${java.util.UUID.randomUUID().toString.take(8)}"
    val fut = scala.concurrent.Future {
      // thread-local: label + make the chain cancellable as a group
      sc.setJobGroup(group, "graft overlapped trainer chain",
        interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }(scala.concurrent.ExecutionContext.global)
    new Overlap(sc, group, fut)
  }

  /** Lloyd's algorithm runs in EUCLIDEAN space over the unit vectors
    * û = v/‖v‖, so the nearest-cell rule is
    * argmin‖û−m‖² = argmax(dot(û,m) − ‖m‖²/2) = argmax(dot(v,m)/‖v‖ − ‖m‖²/2)
    * — a codegen'd dot product plus a per-centroid scalar, no
    * element-wise array math anywhere in the N-row path. */
  private def cellScore: Column =
    dotD(col("v"), col("cv")) / col("nrm") - col("cn")

  private def withHalfNormSq(cents: DataFrame): DataFrame =
    cents.withColumn("cn", dotD(col("cv"), col("cv")) / 2)

  /** Lloyd training-set cap, per centroid — the FAISS discipline
    * (faiss Clustering's max_points_per_centroid default): training on
    * more than ~256 points per centroid buys no centroid quality, but
    * on a full corpus it multiplies the inherent N·nlist assignment
    * cost by the Lloyd round count AND grows N^1.5 (nlist ∝ √N). With
    * the cap, training cost is 256·nl² ∝ N — the build's exponent
    * drops from N^1.5-dominated to the assignment pass's honest
    * linear. Serving recall is the acceptance bar, not training-set
    * size (the recall gates re-ran unchanged at all four scales +
    * the clustered corpora after this change). */
  val trainPerCell = 256

  /** Trained (cell, cv, cn) k-means centroids over the unit vectors of
    * `e` = (vec_id, v, nrm); `cn` = ‖cv‖²/2 for the score above.
    *
    * DETERMINISM CONTRACT (the q65↔q69 twin gate rides on it): the
    * training set is a pure function of `e`'s CONTENT — when N exceeds
    * the [[trainPerCell]]·nl cap, rows are kept by a vec_id-hash
    * threshold (content-keyed, order-independent), and below the cap
    * the plan is untouched, so the in-query trainers and the persisted
    * [[IndexStore.build]] train on identical sets whenever they see
    * identical corpora. The internal count() is deliberate: callers
    * hold slightly different Ns (raw vs validNorm-filtered) and a
    * caller-supplied N would fork the threshold between twins. */
  private[operators] def kmeansCentroids(e: DataFrame,
      nl: Int = nlist, knownN: Option[Long] = None): DataFrame = {
    val cap = trainPerCell.toLong * nl
    // knownN is an OPTIMIZATION seam for callers that already counted
    // EXACTLY this frame for their own dials (q41/q61/q65/q68 count the
    // validNorm-filtered corpus for nlistFor/shortlistFor — r18: that
    // count job ran twice back to back); passing any other frame's
    // count forks the sampling threshold between the twins, so callers
    // holding a different N (IndexStore.build's raw-corpus identity
    // count) must keep relying on the internal count.
    val n = knownN.getOrElse(e.count())
    val eT =
      if (n <= cap) e
      else graft.Materialize(e.filter(
        // keep-fraction in millionths: pmod spreads xxhash64 uniformly,
        // so the kept count is binomial around cap (thousands of rows —
        // tight); max(1, …) keeps at least ~N/1e6 rows from ever
        // rounding the filter down to empty
        pmod(xxhash64(col("vec_id")), lit(1000000L)) <
          lit(math.max(1L, math.round(1e6 * cap.toDouble / n)))))
    var cents = withHalfNormSq(eT
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h")).limit(nl)
      // seeds are the only place an element-wise HOF runs: nl rows
      // (nlistFor(N) — 16 at the fixture, ∝ √N beyond)
      .select(col("vec_id").as("cell"),
        transform(col("v"), x => x / col("nrm")).as("cv")))
    cents = graft.Materialize(cents)
    for (_ <- 1 to lloydIters) {
      // assignment argmax as ONE map-side-combinable aggregate (r18,
      // guide §2.3/§2.4): the former row_number window shuffled and
      // sorted all N×nl scored rows; the aggregate partials collapse
      // them to N rows before the exchange. The ordering key
      // struct(cd, −cell) reproduces the window's (cd DESC, cell ASC)
      // rule exactly and is unique per row (cell is unique within a
      // vec_id group), so the argmax is deterministic — assignments
      // are bit-identical to the window form. r19: typed maxByAgg
      // instead of declarative max_by — a struct-buffer max_by cannot
      // hash-aggregate (HashAggregateExec needs mutable primitive
      // buffers), so every Lloyd round was SORT-aggregating all N×nl
      // scored rows per task; the typed buffer plans as
      // ObjectHashAggregate and nothing is sorted (VERDICT r18 #6).
      val assigned = eT.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
          cellScore.as("cd"))
        .groupBy(col("vec_id"))
        .agg(maxByAgg(struct(col("v"), col("nrm"), col("cell")),
          struct(col("cd"), (-col("cell")).as("nc"))).as("k"))
        .select(col("k.v").as("v"), col("k.nrm").as("nrm"),
          col("k.cell").as("cell"))
      // exact fixed-point per-dimension mean of the assigned UNIT
      // vectors (the q37 pattern): bit-identical at any parallelism,
      // so the trained index is reproducible run to run. The mean
      // stays the explode + (cell,pos)/(cell) two-stage aggregation
      // DELIBERATELY (r18 A/B): partial aggregation already collapses
      // each map task's output to ≤ nl·dim rows before either
      // exchange, so the explode never reaches a shuffle, and the
      // measured alternative — [[dim]]=64 declarative sum columns in
      // one aggregate, the pqCodebook shape — generated a wide enough
      // update method to read ~15% SLOWER on q41 (the pqSubDim=8
      // version of the same rewrite wins; 64 columns crosses the
      // JIT-friendly width this corpus's guide lessons pinned for
      // minhash at 64 CHEAP mins — these sums carry a division, floor
      // and cast each).
      cents = graft.Materialize(withHalfNormSq(assigned
        .select(col("cell"), col("nrm"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(floor(col("col") / col("nrm") * 1e6).cast("long"))
          .cast("double") / 1e6 / count(lit(1))).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), col("pm").getField("m").as("cv"))))
    }
    cents
  }

  /** Coarse-quantizer cell selection — every IVF consumer (q41/q65/
    * q68, [[IndexStore]] build + serve, the veclists screen) ranks
    * cells under ONE rule, (cd DESC, cell ASC) over the broadcast
    * BOUNDED nlist-row centroid table. Until r18 this was a shared
    * `cellRanks` row_number window over all N×nl scored rows; the two
    * forms below keep its exact row semantics while collapsing the
    * exchange to N (argmax) / N·depth (bounded top-k) rows with
    * map-side partial aggregation — rank-everything-then-filter became
    * aggregate-what-you-keep (guide §2.3/§2.4).
    *
    * Home (nearest) cell per vector: row-identical to the old
    * `cellRanks(e, cents).filter(cr === 1).select(vec_id, cell)`, as
    * ONE map-side-combinable argmax aggregate. The ordering key
    * struct(cd, −cell) is the window's (cd DESC, cell ASC) rule and is
    * unique per row (cell unique within a vec_id group), so the argmax
    * is deterministic and bit-identical to the window's rank-1 row.
    * (r19: typed maxByAgg, not declarative max_by — the struct
    * ordering key forced a SortAggregate; see the Lloyd assignment.) */
  private[operators] def homeCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"), cellScore.as("cd"))
      .groupBy(col("vec_id"))
      .agg(maxByAgg(col("cell"),
        struct(col("cd"), (-col("cell")).as("nc"))).as("cell"))

  /** [[homeCells]] with the vector itself riding as argmax payload —
    * one aggregate yields (vec_id, v, nrm, cell), row-identical to
    * `e.join(homeCells(e, cents), "vec_id")` (cell is a deterministic
    * pure function of the row, so attaching it by join or by payload
    * cannot differ). For consumers that need vector AND home cell
    * together (the residual derivation, cell-carrying subvectors) this
    * removes an N⋈N self-join: the old shape shuffled e (with its
    * 64-double payload) AND home and sorted both for the merge join;
    * this shuffles the same heavy rows ONCE through the aggregate's
    * exchange and nothing else (guide §2.4, §8 — decide and attach in
    * the same pass the payload already makes).
    *
    * `key` is the grouping column (one output row per key value) and
    * `payload` the columns of `e` ⋈ `cents` the winning row carries,
    * `cell` among them: an append batch keys by a row id, so a
    * duplicated vec_id keeps both its rows, and carries its fingerprint
    * term and the home centroid `cv` ([[residualsAgainst]]). */
  private[operators] def homeCellsWithVec(e: DataFrame, cents: DataFrame,
      key: String = "vec_id",
      payload: Seq[String] = Seq("v", "nrm", "cell")): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col(key) +: payload.map(col) :+ cellScore.as("cd"): _*)
      .groupBy(col(key))
      .agg(maxByAgg(struct(payload.map(col): _*),
        struct(col("cd"), (-col("cell")).as("nc"))).as("k"))
      .select(col(key) +: payload.map(c => col(s"k.$c").as(c)): _*)

  /** Top-`depth` cells per vector — row-identical to the old
    * `cellRanks(e, cents).filter(cr <= depth)` (same columns, same cd,
    * same cr numbering), via the bounded-buffer [[graft.functions
    * .TopKAgg]] instead of a row_number window (r18, guide §2.3): at
    * most `depth` (cd, cell) pairs per vector leave each map task, so
    * the exchange carries ~N·depth compact structs instead of N×nl
    * sorted rows — the same argument that moved [[rerankTopK]] off a
    * window in round 8, applied to probe-cell selection. TopKAgg's
    * (score DESC, id ASC) total order is exactly the window's
    * (cd DESC, cell ASC); cells are unique within a vector, so the
    * selection and order are deterministic. */
  private[operators] def topCells(e: DataFrame, cents: DataFrame,
      depth: Int): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("nrm"), col("cell"), cellScore.as("cd"))
      // group on vec_id ALONE — nrm is constant within a vector (max
      // = the value, bit-identical), and a (vec_id, nrm) group key
      // would leave the aggregate hash-partitioned on BOTH columns,
      // breaking exchange reuse for every downstream join on the id
      // (q76's probe→batch join re-shuffled both sides; measured 1.5×
      // on its serve min before this line)
      .groupBy(col("vec_id"))
      .agg(max(col("nrm")).as("nrm"),
        graft.functions.TopKAgg
          .topkAgg(col("cd"), col("cell"), depth).as("top"))
      .select(col("vec_id"), col("nrm"), posexplode(col("top")))
      .select(col("vec_id"), col("nrm"), col("col.id").as("cell"),
        col("col.score").as("cd"), (col("pos") + 1).cast("int").as("cr"))

  def q41KnnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    // validNorm like every sibling trainer (q61/q65/q68, IndexStore
    // .build): an unfiltered zero-norm vector seeds or updates a NaN
    // centroid (0.0/0.0), and NaN cellScores rank FIRST under the
    // descending sort — one bad vector collapses every assignment
    // into the NaN cell and the "ANN" probe degenerates to a full
    // corpus scan
    val e = prepped(spark, sfDir).filter(validNorm)
    val n = e.count()
    val nl = nlistFor(n)
    val np = nprobeFor(nl)
    val cents = kmeansCentroids(e, nl, Some(n))
    // index side via the argmax aggregate, query side via the bounded
    // top-k aggregate (r18) — row-identical to the former shared
    // cellRanks window filtered at cr==1 / cr<=np, without ranking all
    // N×nl rows through one window sort (see homeCells/topCells docs)
    val indexed = homeCells(e, cents)
    val queries = topCells(e.filter(col("vec_id") < knnQueries), cents, np)
      .select(col("vec_id").as("query_id"), col("cell"))
    // candidates dedupe as BARE ID PAIRS (a vector can sit in several
    // probed cells of one query) and the exact score comes from the
    // shared re-rank — same shape as q36/q61, two longs per shuffle row
    val cand = broadcast(queries)
      .join(indexed, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    rerankTopK(emb(spark, sfDir), cand)
  }

  /** Exact cosine re-rank of a (query_id, neighbor_id) candidate set to
    * the final top-[[k]]: embeddings join back on AFTER candidate
    * generation (candidates travel as bare id pairs), queries broadcast,
    * top-k via the bounded-buffer [[graft.functions.TopKAgg]] so at most
    * k (cosine, id) pairs per query leave each map task — no per-query
    * candidate sort, same (cosine DESC, id ASC) total order as a
    * row_number window. Degenerate (zero-norm → NaN cosine) candidates
    * are excluded before ranking, and that isnan filter is
    * LOAD-BEARING, not belt-and-braces: under Spark's double order a
    * NaN ranks FIRST descending — both a window and TopKAgg (which
    * implements exactly that total order) would hand a zero vector
    * rank 1 for every query. The filter is the single place the
    * "a zero vector is not a neighbor" rule is enforced for all ANN
    * variants (q35 applies the same rule to the exact baseline).
    * Shared by [[q36KnnLsh]], [[q41KnnIvf]], [[q61KnnPq]],
    * [[q65KnnIvfPq]] and [[q68KnnIvfPqRes]] — every ANN variant
    * surfaces exact cosines through this one rule.
    *
    * The output is ONE partition sorted by (query_id, rank): at most
    * `maxQuery` × `kk` rows, so `coalesce(1)` + `sortWithinPartitions`
    * gives the order a global `orderBy` gave without its range
    * exchange (a sampling job plus a shuffle per execution). */
  private[operators] def rerankTopK(e: DataFrame, cand: DataFrame,
      kk: Int = k, maxQuery: Long = knnQueries): DataFrame = {
    val qv = e.filter(col("vec_id") < maxQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("cosine"))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg
        .topkAgg(col("cosine"), col("neighbor_id"), kk).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
      .coalesce(1)
      .sortWithinPartitions(col("query_id"), col("rank"))
  }

  /** q36: ANN top-k — candidates share an LSH bucket in ≥ 1 table with
    * the query, then exact cosine re-rank. Approximate (recall measured
    * against q35 — Verify gates it at 0.90 across 4 corpus scales),
    * with candidate generation an equality join — the 100 TB path.
    *
    * Recall/cost dials, all on the QUERY side only (the indexed side
    * stays one row per vector per table):
    *  - 16 OR'd tables: a true neighbor is missed only if it collides
    *    in none;
    *  - [[lshBitsFor]]: bits-per-table ∝ log2(N / [[lshTargetBucket]])
    *    (VERDICT r16 #2 — the IVF nlistFor precedent applied to LSH):
    *    the expected bucket stays ~[[lshTargetBucket]] vectors, so the
    *    per-query candidate stream is ~tables · probes · target — a
    *    FALLING fraction of N — instead of the fixed-4-bit dial's ~N;
    *  - [[lshProbeRadiusFor]]: multiprobe at Hamming radius 1 (legacy
    *    bit counts) or 2 (finer buckets). Per-table hit probability
    *    for a neighbor at per-plane agreement p is
    *    Σ_{i≤r} C(b,i) p^(b−i)(1−p)^i — at b=8, r=2, p=0.65 that is
    *    ~0.43/table and the 16-table miss rate ~1e-4; at the legacy
    *    b=4, r=1 it is the old p⁴+4p³(1−p).
    * LSHPROBE_r17 measures the candidate fraction falling with N;
    * recall is the standing 0.90 floor at every gate scale. On
    * near-orthogonal corpora (this fixture — LSH's adversarial case)
    * holding 0.90 past ~10⁶ vectors would need the table count to
    * grow as well; the IVF×PQ store (q69/q70) is the deployment path
    * at that scale, and q36 documents the LSH trade honestly. */
  def q36KnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    rerankTopK(e, lshCandidates(e,
      lshBitsFor(cachedCorpusCount(spark, sfDir, "embeddings", e))))
  }

  /** Corpus size for the in-query ANN dials, cached by the table's
    * FILE SIGNATURE — every current data file's (path, length, mtime)
    * from one driver-side listing, no Spark job (ADVICE r17: q36 ran
    * a full count() per call for a number that only moves when the
    * table does). An appended/rewritten corpus changes its signature
    * and re-counts; an unreadable signature falls back to counting. */
  private[operators] def cachedCorpusCount(spark: SparkSession,
      sfDir: String, table: String, df: DataFrame): Long = {
    val path = s"$sfDir/$table.parquet"
    val sig = graft.Scratch.fileSignature(spark, path).orNull
    if (sig == null) df.count()
    else {
      val hit = corpusCountCache.get(path)
      if (hit != null && hit._1 == sig) hit._2
      else {
        val n = df.count()
        corpusCountCache.put(path, (sig, n))
        n
      }
    }
  }

  private val corpusCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** q36's candidate stage: distinct (query, neighbor) id pairs that
    * share a probed bucket in ≥ 1 table. */
  private[graft] def lshCandidates(e: DataFrame, bits: Int): DataFrame = {
    val buckets = lshBuckets(e, bits)
    val probes: Seq[Column] =
      lshProbeMasks(bits, lshProbeRadiusFor(bits))
        .map(m => col("bucket").bitwiseXOR(lit(m)))
    val qb = buckets.filter(col("vec_id") < knnQueries)
      .select(col("vec_id").as("query_id"),
        col("table"), explode(array(probes: _*)).as("bucket"))
    // dedupe candidates as BARE ID PAIRS (a vector colliding in many
    // tables/probes must be scored once) — the embeddings join back on
    // AFTER the distinct, so the shuffle carries two longs per row, not
    // two 64-float arrays
    broadcast(qb)
      .join(buckets.select(col("vec_id"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
  }

  // --- PQ ANN ---------------------------------------------------------------

  /** Product-quantization geometry: [[dim]] = 64 dimensions split into
    * [[pqSubspaces]] = 8 contiguous 8-dim subspaces, each quantized to
    * [[pqCodes]] = 16 centroids. A vector's index entry is 8 codes —
    * 8 bytes against 256 bytes of float32, a 32× reduction in what the
    * scoring scan has to read. THAT is the 100 TB story: at a scale
    * where even the LSH/IVF candidate joins still drag full vectors
    * through the shuffle for re-ranking, the PQ scan ranks from codes
    * alone and only the [[pqShortlist]] survivors ever touch their
    * original embeddings again. */
  val pqSubspaces = 8
  val pqSubDim: Int = dim / pqSubspaces
  val pqCodes = 16
  val pqLloydIters = 3

  /** ADC shortlist size: the code-based scan keeps this many candidates
    * per query for the exact re-rank. The recall/cost dial: larger
    * shortlist = more exact dot products, higher recall. */
  val pqShortlist = 100

  /** (vec_id, nrm, sub, sv): each vector of `e` = (vec_id, v, nrm) split
    * into its [[pqSubspaces]] contiguous subvectors. `slice` is a
    * codegen'd array copy — no per-element HOF in the N-row path. */
  private[operators] def subVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("nrm"),
      posexplode(array((0 until pqSubspaces).map(s =>
        slice(col("v"), s * pqSubDim + 1, pqSubDim)): _*)))
      .toDF("vec_id", "nrm", "sub", "sv")

  /** [[subVectors]] over a [[homeCellsWithVec]] frame — same grain and
    * expressions plus the `cell` column, which rides [[pqAssign]]'s
    * payload passthrough so encoded codes carry their home cell with
    * NO post-hoc N⋈N join. */
  private[operators] def subVectorsWithCell(eh: DataFrame): DataFrame =
    eh.select(col("vec_id"), col("nrm"), col("cell"),
      posexplode(array((0 until pqSubspaces).map(s =>
        slice(col("v"), s * pqSubDim + 1, pqSubDim)): _*)))
      .toDF("vec_id", "nrm", "cell", "sub", "sv")

  /** All [[pqSubspaces]] codebooks trained in ONE distributed job over
    * the exploded subvector table — (sub, code, cv, cn) with
    * cn = ‖cv‖²/2 so nearest-centroid is argmax(dot(x,c) − cn), a
    * codegen'd dot product per (subvector, centroid) pair.
    *
    * Same construction discipline as [[kmeansCentroids]]:
    *  - seeds: per (sub, hash-bucket) the subvector with the smallest
    *    `xxhash64(vec_id)` via `min_by` — a combinable hash aggregate,
    *    deterministic, no global window, no driver collect;
    *  - assign: broadcast the 128-row codebook, EQUALITY join on `sub`
    *    (each subvector meets only its own 16 centroids), window-argmax
    *    per (vec_id, sub) — parallelism scales with vectors;
    *  - update: per-(sub, code, pos) mean in exact fixed-point LONG
    *    sums (the q37/q41 pattern) — trained codebooks bit-identical
    *    at any parallelism, so the index is reproducible run to run.
    * Centroids that lose every assignment simply drop out of the next
    * round (same behavior as the IVF quantizer); codes are dense only
    * if the data supports 16 distinct cells per subspace. */
  /** Nearest-centroid assignment of exploded subvectors against a
    * broadcast codebook — one row per (vec_id, sub) with its winning
    * `code`. THE single definition of the assignment rule (score
    * dot(x,c) − ‖c‖²/2, ties to the smallest code): the Lloyd update
    * and the final encoding both route through here, so they cannot
    * drift apart. */
  private[operators] def pqAssign(sv: DataFrame, cents: DataFrame): DataFrame = {
    // passthrough of ALL input columns (q68's residual table carries
    // its home cell through here — re-deriving it downstream would
    // cost an N-row join)
    //
    // r18 (guide §2.3/§2.4): argmin-as-argmax aggregate instead
    // of the former row_number window — the window shuffled and sorted
    // all N·subs·codes scored rows; the aggregate's map-side partials
    // collapse them to N·subs rows before the exchange (a pqCodes=16×
    // cut). struct(cd, −code) is the window's (cd DESC, code ASC)
    // order, unique per row (codes are distinct within a (vec_id, sub)
    // group), so the winning code is deterministic and bit-identical.
    // Non-key input columns ride inside the argmax payload (they are
    // constant within a group — each (vec_id, sub) carries ONE
    // subvector), and the final select restores sv's exact column
    // names and order. r19: typed maxByAgg — the declarative max_by's
    // struct buffer sort-aggregated every encode/Lloyd pass; the typed
    // buffer stays in ObjectHashAggregate (VERDICT r18 #6).
    val payload = sv.columns.filterNot(c => c == "vec_id" || c == "sub")
    sv.join(broadcast(cents), Seq("sub"))
      .select(col("vec_id") +: col("sub") +: payload.map(col) :+
        col("code") :+ (dotD(col("sv"), col("cv")) - col("cn")).as("cd"): _*)
      .groupBy(col("vec_id"), col("sub"))
      .agg(maxByAgg(struct(payload.map(col) :+ col("code"): _*),
        struct(col("cd"), (-col("code")).as("nc"))).as("k"))
      .select(sv.columns.map(c =>
        if (c == "vec_id" || c == "sub") col(c)
        else col(s"k.$c").as(c)) :+ col("k.code").as("code"): _*)
  }

  private[operators] def pqCodebook(sv: DataFrame): DataFrame = {
    // ONE half-squared-norm definition (withHalfNormSq) for both the
    // IVF centroids and the PQ codebooks: the assignment rule
    // (cd = dot − cn) depends on it, and two local copies could drift
    // apart — exactly the divergence the shared-pqAssign structure
    // exists to prevent
    var cents = withHalfNormSq(sv
      .withColumn("h", xxhash64(col("vec_id")))
      .groupBy(col("sub"),
        pmod(col("h"), lit(pqCodes)).cast("int").as("code"))
      .agg(minByAgg(col("sv"), col("h")).as("cv")))
    cents = graft.Materialize(cents)
    for (_ <- 1 to pqLloydIters) {
      val assigned = pqAssign(sv, cents)
      // DECIMAL(38,0) accumulator, not long: component·1e6 terms
      // summed over a whole code's members can exceed a long for
      // large-magnitude (still finite-norm) data, and the ANSI sum
      // would throw mid-build. 38 digits absorb any real corpus;
      // the per-term integers are unchanged, so small-data
      // centroids stay bit-identical (build path — one Lloyd pass
      // per iter, not the per-query scan, so the decimal agg cost
      // is amortized)
      //
      // r18 (guide §2.3): the mean runs as [[pqSubDim]] declarative
      // decimal-sum columns in ONE hash aggregate over the assigned
      // rows instead of the old explode-to-rows + two-stage
      // (sub,code,pos)/(sub,code) aggregation — one fewer exchange per
      // Lloyd round and pqSubDim× fewer shuffled values, with the
      // per-element expression tree (floor(x·1e6) summed as DECIMAL,
      // cast double /1e6 /count) unchanged and the sums
      // order-independent, so codebooks stay bit-identical.
      val sums = (0 until pqSubDim).map(i =>
        sum(floor(col("sv")(i) * 1e6)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as(s"s$i"))
      cents = graft.Materialize(withHalfNormSq(assigned
        .groupBy(col("sub"), col("code"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .select(col("sub"), col("code"), array((0 until pqSubDim).map(i =>
          col(s"s$i").cast("double") / 1e6 / col("cnt")): _*).as("cv"))))
    }
    cents
  }

  /** ADC lookup table for the query batch: (query_id, sub, code,
    * partial = dot(q̂_sub, centroid)) — queries × subs × codes rows
    * (1280 here), always broadcast. The query norm divides in HERE so
    * the scan-side sum needs only the corpus norm. */
  private[operators] def pqLut(sv: DataFrame, cents: DataFrame): DataFrame =
    sv.filter(col("vec_id") < knnQueries)
      .select(col("vec_id").as("query_id"), col("nrm").as("qnrm"),
        col("sub"), col("sv").as("qsv"))
      .join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        (dotD(col("qsv"), col("cv")) / col("qnrm")).as("partial"))

  /** Code-only ADC scan: equality-join `codes` against the broadcast
    * LUT on `joinKeys`, aggregate the [[pqSubspaces]] partials per
    * (query, vector) with `approxScore`, keep the `shortlist` best ids
    * per query through the bounded-buffer aggregate. `joinKeys` is
    * (sub, code) for the exhaustive scan (q61: every code row meets
    * every query's LUT entry) and (query_id, sub, code) when the codes
    * rows already carry their probing query (q65/q68: only probed
    * cells scan). The default score divides the corpus norm back out
    * (raw-vector codes); q68 overrides with its exact-cell-term +
    * residual sum. ONE definition of the shortlist tail for all three
    * PQ consumers — tie-breaks and NaN behavior cannot drift apart.
    *
    * The partial sum runs in exact FIXED POINT ([[adcSum]]): the
    * upstream assignment window scatters a vector's [[pqSubspaces]]
    * rows across partitions, so a raw double sum would combine partials
    * in shuffle-arrival order — two vectors sharing identical codes
    * could then land on different ulps run to run and flip shortlist
    * membership at the boundary. floor(partial·1e12) LONGs make the
    * approx score bit-identical at any parallelism (the repo-wide
    * float-aggregation discipline; quantizing an APPROXIMATE score at
    * 1e-12 costs nothing), pinned by DeterminismSpec. NaN/Inf partials
    * cannot reach this cast: [[validNorm]] excludes non-finite-norm
    * vectors at every entry path (floor(NaN) cast to long would THROW
    * under ANSI, not truncate), with [[rerankTopK]]'s NaN filter as
    * the final-score backstop. MAGNITUDE, however, is NOT bounded by
    * validNorm (a finite norm can be astronomically large), and
    * |partial| ≤ ‖centroid‖ scales with the data — a corpus of
    * ~1e8-magnitude components would push partial·1e12 past
    * Long.MaxValue and the ANSI cast (or the long SUM) would throw
    * mid-scan. The clamp at ±1e5 keeps 8 subspace partials safely
    * inside a long (8·1e5·1e12 < 2^63) and is value-IDENTICAL for any
    * sanely-scaled embedding space (cosine workloads sit orders of
    * magnitude below it); a pathological corpus saturates its approx
    * scores instead of crashing, and the exact re-rank still orders
    * the shortlist correctly. */
  private[operators] def adcSum: Column =
    sum(floor(least(greatest(col("partial"), lit(-1e5)), lit(1e5)) * 1e12)
      .cast("long")).cast("double") / 1e12
  private[operators] def adcShortlist(codes: DataFrame, lut: DataFrame,
      joinKeys: Seq[String], shortlist: Int,
      approxScore: Column = adcSum / max(col("nrm"))): DataFrame =
    codes.join(broadcast(lut), joinKeys)
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(approxScore.as("approx"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg
        .topkAgg(col("approx"), col("vec_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.id").as("neighbor_id"))

  /** q61: PQ-ADC ANN — every vector compressed to [[pqSubspaces]] codes
    * by per-subspace k-means; a query ranks the WHOLE corpus from codes
    * alone via an asymmetric-distance lookup table, keeps the
    * [[pqShortlist]] best, and re-ranks those exactly.
    *
    * The scan shape is the point. The query side precomputes
    * LUT[query, sub, code] = dot(q̂_sub, centroid) — 10 queries ×
    * 8 subs × 16 codes = 1280 rows, broadcast ([[pqLut]]). The corpus
    * side is the CODES table: (vec_id, sub, code, nrm), 8 short rows
    * per vector. approx_cos(q, v) = Σ_sub LUT(q, sub, code_sub(v)) /
    * ‖v‖ falls out of an equality join on (sub, code) + a combinable
    * sum aggregate ([[adcShortlist]]) — map-side partials, no arrays
    * anywhere in the N-row path, shuffle rows of three small ints.
    * Cost is linear in the corpus per query (the classic exhaustive
    * ADC scan); [[q65KnnIvfPq]] composes the IVF cells of
    * [[q41KnnIvf]] in front to make it sub-linear (scan only probed
    * cells' codes).
    *
    * Codebooks quantize RAW subvectors (not unit-normalized ones) and
    * the norm divides out at scoring time — only the dot product is
    * approximated, the norm is exact, and the N-row path never runs an
    * element-wise normalize HOF. Approximate where it can be (the
    * shortlist membership), exact where it matters (the returned
    * cosines come from [[rerankTopK]]). Recall vs brute force is
    * asserted in SimilaritySpec; results are rows-only for the driver
    * (same contract as q36/q41). */
  def q61KnnPq(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = emb(spark, sfDir)
    val e = prepped(spark, sfDir).filter(validNorm)
    val sv = subVectors(e)
    // the shortlist dial's corpus count is independent of the codebook
    // chain — overlap it (r18, guide §2.6)
    val nT = overlapped(e.count())
    // guarded: a codebook-chain failure must cancel the overlapped
    // count's jobs, not orphan them (see Overlap.guarded)
    val (codes, lut) = nT.guarded {
      val cents = pqCodebook(sv)
      // encode through the SAME assignment rule the training loop
      // converged under (pqAssign), emitted as the compact codes table
      (pqAssign(sv, cents)
        .select(col("vec_id"), col("nrm"), col("sub"), col("code")),
        pqLut(sv, cents))
    }
    val cand = adcShortlist(codes, lut,
      Seq("sub", "code"), shortlistFor(nT()))
    rerankTopK(raw, cand)
  }

  /** q65: IVF × PQ — the composed index shape a 100 TB deployment
    * actually runs (the FAISS IVFPQ architecture, re-expressed as
    * joins): the coarse k-means quantizer of [[q41KnnIvf]] partitions
    * the corpus into cells, every vector's PQ codes ([[q61KnnPq]])
    * carry their home cell, and a query ADC-scans ONLY the codes of
    * its [[nprobeFor]](nl) probed cells — sub-linear in the corpus AND
    * compressed 32×, where q41 re-ranks probed cells from full vectors
    * and q61 scans every vector's codes.
    *
    * Composition is literal reuse: cells come from [[homeCells]]/
    * [[topCells]] (the same rule q41 ranks with), codes from [[pqCodebook]]/[[pqAssign]]
    * (the same rule q61 encodes with), and the scan is [[adcShortlist]]
    * with the probe join in front — codes join the broadcast (query,
    * cell) probe set on `cell`, so each codes row fans out only to the
    * queries actually probing its cell, then the LUT attaches per
    * (query_id, sub, code). Everything stays equality joins + hash
    * aggregates; recall (≈ IVF's cell recall × PQ's shortlist recall)
    * is asserted in SimilaritySpec, results rows-only for the driver.
    * This variant quantizes raw vectors, not per-cell RESIDUALS — the
    * classic refinement [[q68KnnIvfPqRes]] adds on top. */
  def q65KnnIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = emb(spark, sfDir)
    val e = prepped(spark, sfDir).filter(validNorm)
    val n = e.count()
    val nl = nlistFor(n)
    // the PQ codebook's Lloyd chain is INDEPENDENT of the IVF centroid
    // chain until the codes join below — overlap the two blocking
    // materialize sequences on a second driver thread (r18, guide
    // §2.6: actions are only sequential because the driver calls them
    // sequentially; each chain's small jobs leave most cores idle).
    // Identical computations, identical results — only the wall-clock
    // interleaving changes.
    val sv = subVectors(e)
    val cbookT = overlapped(pqCodebook(sv))
    // guarded: an IVF-chain failure cancels the codebook chain's jobs
    val (probes, svc) = cbookT.guarded {
      val cents = kmeansCentroids(e, nl, Some(n))
      (topCells(e.filter(col("vec_id") < knnQueries), cents,
          nprobeFor(nl))
        .select(col("vec_id").as("query_id"), col("cell")),
        subVectorsWithCell(homeCellsWithVec(e, cents)))
    }
    val cbook = cbookT()
    // r19: encode from the cell-carrying subvectors (homeCellsWithVec
    // → subVectorsWithCell) so the home cell rides pqAssign's payload
    // — the former separate homeCells aggregate + codes⋈home join
    // (a re-shuffle of all N·subs code rows onto vec_id plus the home
    // table) are gone. The codebook itself still trains on the
    // cell-free sv, which keeps its Lloyd chain independent and
    // overlapped above; values are identical either way.
    val codes = pqAssign(svc, cbook)
      .select(col("vec_id"), col("nrm"), col("sub"), col("code"),
        col("cell"))
    val probedCodes = codes.join(broadcast(probes), Seq("cell"))
    val cand = adcShortlist(probedCodes, pqLut(sv, cbook),
      Seq("query_id", "sub", "code"), shortlistFor(n))
    rerankTopK(raw, cand)
  }

  /** Residual subvectors for [[q68KnnIvfPqRes]]: each unit vector minus
    * its home-cell centroid, re-sliced into the PQ subspaces —
    * (vec_id, cell, nrm, sub, sv) with sv = (û − m_cell)[sub]. Input
    * `eh` already carries each vector's home cell (r19:
    * [[homeCellsWithVec]], or a caller-side batch join) — the former
    * (e, home) signature re-joined the full corpus to its own home
    * table here, an N⋈N shuffle-and-sort of the heavy vector rows that
    * the fused argmax now does in its one exchange.
    *
    * The element-wise subtraction is plain codegen'd GetArrayItem
    * arithmetic against the broadcast whole-centroid array — never a
    * zip_with/transform HOF (CodegenFallback) in the N-row path. One
    * pass at INDEX BUILD time only; queries never touch this path. */
  private[operators] def residualSubVectors(eh: DataFrame,
      cents: DataFrame): DataFrame =
    residualsAgainst(
      eh.join(broadcast(cents.select(col("cell"), col("cv"))), Seq("cell")))

  /** [[residualSubVectors]] of rows that already carry their home
    * centroid `cv` beside (vec_id, cell, v, nrm) — an append batch
    * whose home-cell argmax carried it ([[homeCellsWithVec]]), so the
    * residuals need no second centroid broadcast. */
  private[operators] def residualsAgainst(ehc: DataFrame): DataFrame =
    // r18 (guide §2.3/§2.4): each vector row carries the WHOLE 64-dim
    // centroid array (cents is the bounded nl-row dim table, broadcast
    // or carried) and each 8-dim residual subvector is built as a direct
    // array() of codegen'd GetArrayItem arithmetic. The former shape
    // exploded every vector to N×dim (pos, x) rows, broadcast-joined a
    // (cell, pos, cm) table at that grain, and re-assembled subvectors
    // through a groupBy + array_sort(collect_list) — a full exchange
    // of N×dim rows that this projection-only form removes outright
    // (the one posexplode left fans each vector to its [[pqSubspaces]]
    // subvector rows, exactly the old output grain). Per element the
    // tree is unchanged — x/nrm − cm at the same positions, assembled
    // in the same p order — so the residuals are bit-identical.
    ehc.select(col("vec_id"), col("cell"), col("nrm"),
        posexplode(array((0 until pqSubspaces).map(residualSub): _*)))
      .toDF("vec_id", "cell", "nrm", "sub", "sv")

  /** Subvector `s` of a row's residual û − m_cell, from its `v`, `nrm`
    * and home centroid `cv`: the one element expression of
    * [[residualsAgainst]]. */
  private[operators] def residualSub(s: Int): Column =
    array((0 until pqSubDim).map(p =>
      col("v")(s * pqSubDim + p) / col("nrm") -
        col("cv")(s * pqSubDim + p)): _*)

  /** q68: IVF×PQ with RESIDUAL encoding — the classic FAISS refinement
    * over [[q65KnnIvfPq]]: instead of quantizing û directly, quantize
    * û − m_cell (what the coarse quantizer could NOT express) with one
    * shared residual codebook, and score
    *
    *   cos(q, v) ≈ dot(q̂, m_cell)  +  Σ_sub LUT(q, sub, code_sub)
    *               └ exact, per probed cell ┘ └ ADC on the residual ┘
    *
    * The first term is already computed by [[topCells]] (cd + cn
    * recovers dot(q̂, m)); the second reuses [[pqLut]] verbatim against
    * the residual codebook — the LUT is cell-independent because the
    * residual codebook is shared, so its size stays queries × subs ×
    * codes. Residuals are much smaller in magnitude than the vectors
    * themselves, so the same 8×16 code budget spends its resolution on
    * the informative part — SimilaritySpec asserts recall never falls
    * below q65's at identical index size and scan cost (at the tiny
    * fixture both saturate the coarse quantizer's cell-recall cap and
    * tie; the residual advantage materializes when the shortlist is
    * small relative to the probed-cell population). Scan shape
    * is q65's: codes fan out only to the queries probing their cell,
    * equality joins + hash aggregates end to end, exact re-rank via
    * [[rerankTopK]]; rows-only for the driver (ANN contract). */
  def q68KnnIvfPqRes(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = emb(spark, sfDir)
    val e = prepped(spark, sfDir).filter(validNorm)
    val n = e.count()
    val nl = nlistFor(n)
    val cents = kmeansCentroids(e, nl, Some(n))
    // exact per-(query, probed-cell) term: cd = dot(û, m) − ‖m‖²/2, so
    // dot(û, m) = cd + cn — no recomputation, just the cn join back
    val probesCt = topCells(e.filter(col("vec_id") < knnQueries), cents,
        nprobeFor(nl))
      .join(broadcast(cents.select(col("cell"), col("cn"))), Seq("cell"))
      .select(col("vec_id").as("query_id"), col("cell"),
        (col("cd") + col("cn")).as("ct"))
    // materialized: pqCodebook's Lloyd rounds would otherwise replay
    // the whole residual derivation (cell argmax + N×dim explode) once
    // per training round plus once for encoding. r19: the home-cell
    // argmax carries the vector as payload (homeCellsWithVec), so the
    // former separate homeCells aggregate AND the e⋈home N⋈N join are
    // gone — one heavy exchange instead of three.
    val rsv = graft.Materialize(
      residualSubVectors(homeCellsWithVec(e, cents), cents))
    val rcents = pqCodebook(rsv)
    // cell rides through pqAssign's passthrough — no re-join needed
    val rcodes = pqAssign(rsv, rcents)
      .select(col("vec_id"), col("cell"), col("sub"), col("code"))
    // queries ADC-scan only their probed cells' residual codes; the
    // cell term is constant per (query, vector) — its max is itself
    val cand = adcShortlist(
      rcodes.join(broadcast(probesCt), Seq("cell")),
      pqLut(subVectors(e), rcents),
      Seq("query_id", "sub", "code"), shortlistFor(n),
      approxScore = max(col("ct")) + adcSum)
    rerankTopK(raw, cand)
  }
}
