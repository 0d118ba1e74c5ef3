package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed suffix-array construction by PREFIX DOUBLING
  * (Manber–Myers) — the real index behind exact-substring dedup (Lee et
  * al. 2022 build one over the whole training corpus to find every
  * repeated ≥50-token run; q116's gram-gate is the streaming
  * approximation, this is the exact artifact). log₂(n) rounds; after
  * round k every suffix is ranked by its first 2^k tokens, and round
  * k+1 ranks by the pair (rank[pos], rank[pos+2^k]) — a sort on two
  * integers, never a string comparison past round 0.
  *
  * TWO ROUND REGIMES, switched automatically:
  *
  * 1. GLOBAL rounds (the skew-safe opener): the full n-row rank
  *    relation is re-ranked by [[rankByKeyPath]] — a range-partitioned
  *    fused global rank whose per-partition stats stitch handles
  *    key groups of ANY size (a group may straddle partitions). Used
  *    while some rank group is still larger than [[MaxLocalGroup]]
  *    rows — early rounds of a natural-language corpus, where the most
  *    common 1-/2-token prefixes can cover percents of the stream.
  *
  * 2. ACTIVE-SET rounds (the asymptotic win, r11 verdict ask #1): a
  *    suffix whose rank is already UNIQUE (singleton group) is FINAL —
  *    later rounds can never change it (groups only subdivide, and the
  *    count of suffixes ordered before a resolved one is fixed once its
  *    prefix is unique). Measured at the 100× design point, 99.6% of
  *    positions resolve by prefix 128 yet the all-n regime kept
  *    re-sorting them for 12 more rounds. So once every group fits a
  *    task, resolved rows are APPENDED to a shared finals dir
  *    ([[Scratch.allocPath]]/[[Scratch.appendPath]] — one immutable
  *    delta per round, (pos, rank, lvl)) and each subsequent round
  *    re-ranks ONLY the unresolved tail:
  *      - pair lookup: rank[pos+gap] comes from the full level relation
  *        (finals ∪ active — resolved ranks stay valid lookups); when
  *        the active set is under [[BroadcastActiveMax]] the join
  *        BROADCASTS the active side, so the n-row side is a map-side
  *        parquet scan with zero shuffle;
  *      - re-rank: the KEY property making refinement local is that an
  *        unresolved group's members all share rank r1 = the group's
  *        min global row number, the group occupies the contiguous
  *        global interval [r1, r1+size-1], and NO resolved row shares
  *        r1. Hash-partitioning the pairs by r1 therefore co-locates
  *        every group whole, and a per-partition linear scan over
  *        (r1, r2, pos) order assigns the exact global rank
  *        r1 + offset-of-(r2)-run — no global sort, no boundary stitch;
  *      - convergence: active count hits zero (every suffix appended).
  *
  * Level relations stay reconstructable for the LCP descent: level p =
  * that round's landed rows ∪ finals rows with lvl < p (a resolved
  * row's rank is unique at every level ≥ its resolution level, so rank
  * equality still certifies prefix-p equality — see [[SaHierarchy]]).
  *
  * Execution regime: CHECKPOINTED-ONLY, like [[Hits]] — each round
  * lands its rank relation to scratch parquet ([[ConnectedComponents]]
  * discipline), so plan size and lineage are constant per round and a
  * 100 TB corpus pays log₂(n) bounded passes, each touching only the
  * unresolved tail once the switch fires. Driver state is one stats
  * row per range partition per round, never data.
  */
object SuffixArray {

  /** Largest rank-group the ACTIVE-SET regime may co-locate in one task
    * (the switch criterion, checked EXACTLY via the global regime's
    * per-partition run stats — groups only shrink, so once every group
    * is under this the property holds for all later rounds). 4M rows of
    * (r1, r2, pos) is a ~100 MB in-task sort — well inside executor
    * memory at any sane partition sizing. */
  private[operators] val DefaultMaxLocalGroup: Long = 1L << 22

  /** Active sets at or under this row count are BROADCAST to the pair
    * lookup join — the n-row lookup side then never shuffles (map-side
    * scan + broadcast hash probe). ~1M × 3 longs ≈ 40 MB serialized. */
  private[operators] val BroadcastActiveMax: Long = 1L << 20

  /** Seed width for the multi-token OPENER round (r13 verdict ask #6):
    * after the round-0 single-token rank, ONE fused rank over the
    * W-tuple (r₁[pos], …, r₁[pos+W−1]) jumps the hierarchy straight to
    * prefix W — skipping log₂(W) of the early global rounds. Correct
    * because r₁ is an order-isomorphic encoding of the token alphabet,
    * so tuple order == prefix-W lexicographic order (0 sentinel for
    * past-the-end = the shorter-suffix-first tiebreak every round
    * already uses); the LCP descent stays exact across the missing low
    * levels by re-applying level 1 up to W−1 times ([[lcpFromLevels]]'s
    * step expansion). MEASURED AND REJECTED as the default (r14,
    * SaScale on the 100× rotated corpus, 27,070,400 tokens, local[8]):
    * the W=8 seed round cost 203.0 s — more than the THREE pair rounds
    * it replaces combined (~60 s in the r13 profile) — for a total
    * build of 350.2 s vs the unseeded 179.1 s, and the descent's
    * 7×-level-1 tail pushed LCP 255.9 → 387.0 s. The early rounds'
    * cost is inherent per-row shuffle volume (BASELINE r13 note), and
    * an 8-wide tuple row carries ~4× the bytes of a (r1, r2) pair row,
    * so the fused round loses exactly where it was meant to win. Kept
    * conf-gated OFF (seedWidth = 1 default) with full property
    * coverage, as measured scale evidence — the q173 cold-entry
    * discipline: reject with numbers, not assertion. */
  private[operators] val ExperimentalSeedWidth: Int = 8

  /** One landed doubling round. `path` holds (pos, rank, solo); for a
    * FULL level it covers all n positions, for an active level only the
    * rows still unresolved when the round started. `resolvedBefore` =
    * rows already in the finals dir with lvl < prefixLen. */
  final case class SaLevel(
      prefixLen: Long, path: String, full: Boolean, resolvedBefore: Long)

  /** The doubling-rank hierarchy: every round's landed relation tagged
    * with its prefix length — round k's ranks order suffixes by their
    * first 2^k tokens, and rank EQUALITY at level p certifies "first p
    * tokens equal", which is the primitive [[lcpFromLevels]] composes
    * LCPs from. That certificate survives the active-set split because
    * a row resolved at level q ≤ p keeps a rank no other suffix carries
    * at any level ≥ q (its group is a singleton forever after), while
    * rows resolved at q > p are still in level p's active relation —
    * so level p = active(p) ∪ finals(lvl < p) is exactly n rows with
    * the full-relation equality semantics. */
  final case class SaHierarchy(
      levels: Seq[SaLevel], finalsPath: Option[String], n: Long) {

    /** Full n-row (pos, rank) relation at level index `i`. The finals
      * side prunes on the per-append-file lvl min/max (each append is
      * one constant-lvl delta, so parquet file skipping applies). */
    def levelDf(spark: SparkSession, i: Int): DataFrame = {
      val l = levels(i)
      val own = graft.Tables.parquet(spark, l.path).select(col("pos"), col("rank"))
      if (l.full || l.resolvedBefore == 0L) own
      else own.unionByName(graft.Tables.parquet(spark, finalsPath.get)
        .filter(col("lvl") < l.prefixLen).select(col("pos"), col("rank")))
    }

    /** The converged all-distinct ranking — (pos, rank), all n rows. */
    def finalRanksDf(spark: SparkSession): DataFrame =
      if (levels.last.full)
        graft.Tables.parquet(spark, levels.last.path).select(col("pos"), col("rank"))
      else graft.Tables.parquet(spark, finalsPath.get).select(col("pos"), col("rank"))

    def release(): Unit = {
      levels.foreach(l => Scratch.release(l.path))
      finalsPath.foreach(Scratch.release)
    }
  }

  /** Token-wise lexicographic suffix ranks over `toks0`: (pos: Long —
    * 0-based, CONTIGUOUS 0..n-1 — and tok: String). Runs eagerly;
    * returns the scratch DIR of the final rank relation (columns
    * INCLUDE pos and rank — select them; rank is the 1-based position
    * of suffix `pos` in sorted suffix order — the inverse suffix array;
    * sort by rank to read the SA itself). The caller reads it and
    * [[Scratch.release]]s when done, or memoizes per dataset (the
    * q61/q117 pattern). */
  def ranksPath(toks0: DataFrame): String = {
    val h = hierarchy(toks0)
    h.finalsPath match {
      case Some(fp) =>
        h.levels.foreach(l => Scratch.release(l.path))
        fp
      case None =>
        h.levels.init.foreach(l => Scratch.release(l.path))
        h.levels.last.path
    }
  }

  /** Builds the full doubling hierarchy. `onRound` is a measurement
    * hook (prefixLen, distinct groups, wall secs) fired after every
    * landed round — the scale harness records per-round cost through
    * it; the default is free. `maxLocalGroup` overrides the
    * global→active switch threshold (tests force either regime with
    * it). Caller releases via [[SaHierarchy.release]]. */
  def hierarchy(toks0: DataFrame,
      onRound: (Long, Long, Double) => Unit = (_, _, _) => (),
      maxLocalGroup: Long = DefaultMaxLocalGroup,
      seedWidth: Int = 1): SaHierarchy = {
    val spark = toks0.sparkSession
    import spark.implicits._
    var t0 = System.nanoTime()
    def lap(): Double = {
      val t1 = System.nanoTime(); val s = (t1 - t0) / 1e9; t0 = t1; s
    }
    // round 0: rank by the single leading token (the only string sort)
    val r0 = rankByKeyPath(toks0.select(col("tok"), col("pos")), Seq("tok"))
    val n = r0.n
    val levels =
      scala.collection.mutable.ArrayBuffer(SaLevel(1L, r0.path, true, 0L))
    var groups = r0.groups
    var maxGroup = r0.maxGroup
    onRound(1L, groups, lap())

    var fullMode = true
    var finalsPath: Option[String] = None
    var resolved = 0L          // rows appended to finals so far
    var done = groups == n
    var gap = 1L               // prefix length of the LAST landed level

    // SEED round (see [[ExperimentalSeedWidth]] — measured at 100× and
    // kept OFF by default): one fused rank by the W-tuple of round-0
    // ranks jumps prefix 1 -> W. The tuple is assembled with a
    // block/boundary-duplication pass — contiguous pos means each row
    // feeds at most 2 blocks and every W-window lives whole in one —
    // never a global window.
    if (!done && seedWidth > 1) {
      val w = seedWidth
      val parts = shufflePartitions(spark)
      val blockB = math.max(w.toLong, n / parts + 1L)
      val r0rel = graft.Tables.parquet(spark, levels.last.path)
        .select(col("pos"), col("rank"))
      val wide = r0rel
        .select(col("pos"), col("rank"),
          explode(array_distinct(array(
            greatest(expr(s"(pos - ${w - 1}) div $blockB"), lit(0L)),
            expr(s"pos div $blockB")))).as("blk"))
        .repartition(parts, col("blk"))
        .sortWithinPartitions(col("blk"), col("pos"))
        .select(col("blk"), col("pos"), col("rank"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          // a partition holds whole blocks (hash on blk); block size is
          // <= B + W - 1 rows — the same magnitude the range sort above
          // already buffered per task
          it.toSeq.groupBy(_._1).iterator.flatMap { case (b, rows) =>
            val arr = rows.sortBy(_._2).map(t => (t._2, t._3)).toArray
            val limit = (b + 1L) * blockB
            arr.indices.iterator
              .takeWhile(i => arr(i)._1 < limit) // own rows: a prefix
              .map { i =>
                val p = arr(i)._1
                // pos contiguity: arr(i + j) IS pos p + j when p + j < n
                (p, (0 until w).map { j =>
                  if (i + j < arr.length) arr(i + j)._2 else 0L
                })
              }
          }
        }
        .toDF("pos", "ks")
      val rs = rankByKeyPath(wide, Seq("ks"))
      gap = w.toLong
      levels += SaLevel(gap, rs.path, true, 0L)
      groups = rs.groups
      maxGroup = rs.maxGroup
      done = groups == n
      onRound(gap, groups, lap())
    }

    // global→active switch: split the last (full) level's singleton
    // groups into the finals dir; everything else becomes the active set
    def maybeSwitch(): Unit =
      if (fullMode && !done && maxGroup <= maxLocalGroup) {
        val fp = Scratch.allocPath("sa-finals")
        val cur = graft.Tables.parquet(spark, levels.last.path)
        val solos = cur.filter(col("solo"))
          .select(col("pos"), col("rank"), lit(gap).as("lvl"))
        // one pass: the append's write job carries the count observation
        // (an all-empty finals dir is never read — levelDf only unions
        // finals when resolvedBefore > 0)
        resolved = Scratch.appendPathCounted(solos, fp)
        finalsPath = Some(fp)
        fullMode = false
      }
    maybeSwitch()

    while (!done && gap < n) {
      if (fullMode) {
        // GLOBAL round: re-rank all n positions by (rank, rank+gap)
        val r = graft.Tables.parquet(spark, levels.last.path)
        val shifted = r.select((col("pos") - gap).as("pos"),
          col("rank").as("r2"))
        val pairs = r.select(col("pos"), col("rank").as("r1"))
          .join(shifted, Seq("pos"), "left")
          .select(col("pos"), col("r1"),
            coalesce(col("r2"), lit(0L)).as("r2"))
        val rk = rankByKeyPath(pairs, Seq("r1", "r2"))
        groups = rk.groups
        maxGroup = rk.maxGroup
        gap *= 2
        levels += SaLevel(gap, rk.path, true, 0L)
        done = groups == n
        onRound(gap, groups, lap())
        maybeSwitch()
      } else {
        // ACTIVE round: re-rank only the unresolved tail
        val last = levels.last
        val lastIdx = levels.size - 1
        val activeIn = graft.Tables.parquet(spark, last.path)
          .filter(!col("solo")).select(col("pos"), col("rank"))
        val activeCnt = n - resolved
        // pair lookup against the FULL level relation: pos+gap < n
        // always hits (the level covers every position), so no outer
        // join — past-the-end suffixes take r2 = 0 (sorts before every
        // real rank ≥ 1: the shorter-suffix-first tiebreak)
        val lookup = levelDfOf(spark, levels(lastIdx), finalsPath)
          .select(col("pos").as("need"), col("rank").as("r2"))
        val needing = activeIn
          .select(col("pos"), col("rank").as("r1"),
            (col("pos") + gap).as("need"))
          .filter(col("need") < n)
        val joined =
          if (activeCnt <= BroadcastActiveMax)
            lookup.join(broadcast(needing), Seq("need"))
          else needing.join(lookup, Seq("need"))
        val pastEnd = activeIn.filter(col("pos") + gap >= n)
          .select(col("pos"), col("rank").as("r1"), lit(0L).as("r2"))
        val pairs = joined.select(col("pos"), col("r1"), col("r2"))
          .unionByName(pastEnd)

        val parts = shufflePartitions(spark)
        // hash by r1 co-locates each unresolved group WHOLE (no
        // resolved row shares an active r1, and the group is ≤
        // maxLocalGroup rows by the switch invariant), so the scan
        // below needs no cross-partition stitch: global rank of a
        // (r1, r2)-run = r1 + its row offset within the r1 group
        // (the group owns the contiguous global interval
        // [r1, r1 + size - 1], and refinement reorders only inside it)
        val refined = pairs
          .repartition(parts, col("r1"))
          .sortWithinPartitions(col("r1"), col("r2"), col("pos"))
          .select(col("pos"), col("r1"), col("r2"))
          .as[(Long, Long, Long)]
          .mapPartitions { it0 =>
            val it = it0.buffered
            new Iterator[(Long, Long, Boolean, Boolean)] {
              private var curR1 = Long.MinValue
              private var curR2 = Long.MinValue
              private var started = false
              private var groupStart = 0L // local idx where r1 group began
              private var idx = -1L
              private var rank = 0L
              private var firstOfSub = false
              def hasNext: Boolean = it.hasNext
              def next(): (Long, Long, Boolean, Boolean) = {
                idx += 1
                val (pos, r1, r2) = it.next()
                if (!started || r1 != curR1) {
                  started = true; curR1 = r1; curR2 = r2
                  groupStart = idx; rank = r1; firstOfSub = true
                } else if (r2 != curR2) {
                  curR2 = r2; rank = r1 + (idx - groupStart)
                  firstOfSub = true
                } else firstOfSub = false
                val lastOfSub = !it.hasNext || {
                  val h = it.head; h._2 != r1 || h._3 != r2
                }
                (pos, rank, firstOfSub, firstOfSub && lastOfSub)
              }
            }
          }
          .toDF("pos", "rank", "first", "solo")
        // "first" marks each (r1, r2)-run head, so distinct-rank count is
        // a plain sum — both round stats ride the materialize write job
        // via observe() instead of a second full scan of the landed level
        val obs = org.apache.spark.sql.Observation()
        val landed = Scratch.materializePath(
          refined.observe(obs,
            sum(col("solo").cast("long")).as("s"),
            sum(col("first").cast("long")).as("g")), "sa-active")
        val st = obs.get
        val soloCnt = st("s").asInstanceOf[Long]
        val grpCnt = st("g").asInstanceOf[Long]
        gap *= 2
        if (soloCnt > 0)
          Scratch.appendPath(graft.Tables.parquet(spark, landed)
            .filter(col("solo"))
            .select(col("pos"), col("rank"), lit(gap).as("lvl")),
            finalsPath.get)
        levels += SaLevel(gap, landed, false, resolved)
        groups = resolved + grpCnt
        resolved += soloCnt
        done = resolved == n
        onRound(gap, groups, lap())
      }
    }
    SaHierarchy(levels.toSeq, finalsPath, n)
  }

  // standalone twin of SaHierarchy.levelDf for use mid-build (before
  // the hierarchy object exists)
  private def levelDfOf(spark: SparkSession, l: SaLevel,
      finalsPath: Option[String]): DataFrame = {
    val own = graft.Tables.parquet(spark, l.path).select(col("pos"), col("rank"))
    if (l.full || l.resolvedBefore == 0L) own
    else own.unionByName(graft.Tables.parquet(spark, finalsPath.get)
      .filter(col("lvl") < l.prefixLen).select(col("pos"), col("rank")))
  }

  private def shufflePartitions(spark: SparkSession): Int =
    scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .getOrElse(32)

  /** Adjacent-suffix LCP array over `toks0` — builds the hierarchy
    * internally and releases it. Callers that already hold a hierarchy
    * (or need it for something else too) use [[lcpFromLevels]] and pay
    * the doubling build ONCE. Output scratch DIR:
    * (rank, a_pos, b_pos, lcp) for rank 1..n-1 (pair = SA[rank],
    * SA[rank+1]). */
  def lcpPath(toks0: DataFrame): String = {
    val h = hierarchy(toks0)
    try lcpFromLevels(toks0.sparkSession, h)
    finally h.release()
  }

  /** How many descent levels chain in ONE landed plan: each level is a
    * pair of equi-joins, so 4 levels = 8 chained joins — comfortably
    * inside Catalyst's depth while cutting the per-level scratch land
    * (the descent's fixed cost) 4×. */
  private val LcpLandEvery = 4

  /** The LCP descent from a PREBUILT doubling hierarchy (the companion
    * structure that makes the SA answer ExactSubstr questions: a
    * repeated run of length L exists ⟺ some adjacent LCP ≥ L; the
    * repeated extent is the SA interval around it). Token-wise LCP of
    * each SA-adjacent pair, computed WITHOUT comparing tokens: descend
    * the hierarchy's prefix lengths and greedily add level p whenever
    * ranks at (a+done, b+done) are equal at level p — binary
    * decomposition, log₂(n) rounds each a pair of equi-joins against
    * that level's relation (positions past the end left-join to
    * null = mismatch), landed every [[LcpLandEvery]] rounds. Caller
    * owns `h` (NOT released here). */
  def lcpFromLevels(spark: SparkSession, h: SaHierarchy): String = {
    val fin = h.finalRanksDf(spark)
    val a = fin.select(col("rank"), col("pos").as("a_pos"))
    val b = fin.select((col("rank") - 1).as("rank"), col("pos").as("b_pos"))
    var statePath = Scratch.materializePath(
      a.join(b, Seq("rank")).withColumn("lcp", lit(0L)), "sa-lcp")
    var state = graft.Tables.parquet(spark, statePath)
    var sinceLand = 0
    // Step plan: levels in DECREASING prefix order, each level applied
    // `prev/p − 1` times (prev = the next-larger level; the top once).
    // Greedy exactness invariant: entering level p the uncaptured LCP
    // remainder is < prev, and (prev/p − 1) applications of p capture
    // any remainder < prev down to < p. For the classic binary ladder
    // prev = 2p, so every rep count is 1 — byte-identical to the old
    // once-per-level descent; the seeded ladder's 8 -> 1 hole gets
    // level 1 applied 7 times (a rep whose ranks mismatch leaves lcp
    // unchanged, so extra reps are never wrong, only joins).
    val desc = h.levels.indices.sortBy(i => -h.levels(i).prefixLen)
    val rev = scala.collection.mutable.ArrayBuffer.empty[Int]
    var prevP = -1L
    for (i <- desc) {
      val p = h.levels(i).prefixLen
      val reps = if (prevP < 0) 1 else math.max(1L, prevP / p - 1L).toInt
      var r = 0
      while (r < reps) { rev += i; r += 1 }
      prevP = p
    }
    for ((li, idx) <- rev.zipWithIndex) {
      val p = h.levels(li).prefixLen
      val rp = h.levelDf(spark, li)
      state = state
        .join(rp.select(col("pos").as("__ap"), col("rank").as("__ar")),
          col("__ap") === col("a_pos") + col("lcp"), "left")
        .join(rp.select(col("pos").as("__bp"), col("rank").as("__br")),
          col("__bp") === col("b_pos") + col("lcp"), "left")
        .withColumn("lcp",
          when(col("__ar").isNotNull && col("__br").isNotNull &&
            col("__ar") === col("__br"), col("lcp") + p)
            .otherwise(col("lcp")))
        .select(col("rank"), col("a_pos"), col("b_pos"), col("lcp"))
      sinceLand += 1
      if (sinceLand == LcpLandEvery || idx == rev.size - 1) {
        val newState = Scratch.materializePath(state, "sa-lcp")
        Scratch.release(statePath)
        statePath = newState
        state = graft.Tables.parquet(spark, statePath)
        sinceLand = 0
      }
    }
    statePath
  }


  /** Refine-pass pair sets at or under this count take the BROADCAST
    * regime: per level the needed (pos, rank) rows are semi-filtered
    * out of the level relation (one columnar scan, no shuffle) and
    * broadcast to both lookup joins. Above it, the shuffle joins run —
    * over the in-flight subset only, never all n pairs. */
  private[operators] val LcpBroadcastActiveMax: Long = 1L << 20

  /** COMPOSITE-RANK LCP lookup descent — the redesign the bracket
    * variant's measurements point at (see [[lcpFromLevelsBracket]]):
    * kill the per-level relation shuffles entirely. MEASURED AND
    * REJECTED TOO (100× design point: 515.7 s total — comp build
    * 180.2 s + rounds 335.2 s vs the 255.9 s top-down default): the
    * per-position pivot costs a build of its own, and each lookup
    * round scans the ~5 GB 19-wide array relation twice while the
    * in-flight set stays large (this corpus's LCP popcounts run 2-5) —
    * array-width I/O and per-row deserialization replace the level
    * shuffles they saved. Kept property-pinned (both regimes, seeded
    * hole replay); BASELINE.md has the full four-design table.
    *
    * The hierarchy pivots ONCE into a per-position composite row
    * (pos, rs = [rank@level₀, …, rank@level_top]) — log n
    * pos-co-partitioned joins, the same O(n log n) bytes the levels
    * already hold — written as a BUCKETED-by-pos table so every lookup
    * join reads it exchange-free (the pair side alone shuffles, hashed
    * to the bucket layout). One lookup at offset (a+lcp, b+lcp) then
    * serves EVERY level at once, and the greedy descent collapses to
    * per-pair rounds: in-row, take the LARGEST eligible level whose
    * ranks match (eligible: p < bound, the remainder's exclusive upper
    * bound); no match ⟹ remainder 0, resolved; a match at p adds p
    * and tightens bound to min(bound, levelAbove(p)) − p (all levels
    * above p either mismatched — rem < their p — or were ineligible).
    * A pair therefore finishes in popcount-of-its-LCP + 1 lookups
    * (binary ladder; a seeded ladder's 1→W hole replays level 1 as
    * bound decrements, still exact), and the in-flight set shrinks
    * with the popcount tail. Exactness: pm = largest level ≤ rem
    * because match ⟺ rem ≥ p and p ≤ rem < bound keeps every such
    * level eligible; invariant rem < bound holds inductively from
    * bound₀ = 2·p_top > any LCP (the converged build ranks all
    * suffixes distinct ⟹ LCP < p_top). Past-end offsets left-join to
    * null ⟹ no match ⟹ resolved, which is exact (an LCP cannot
    * extend past text end). Small in-flight sets switch to the
    * broadcast semi-filter regime, same as the bracket variant.
    *
    * Caller owns `h`. `broadcastMax` is the spec seam. */
  private[graft] def lcpFromLevelsComposite(spark: SparkSession,
      h: SaHierarchy,
      broadcastMax: Long = LcpBroadcastActiveMax,
      onPhase: (String, Double) => Unit = (_, _) => ()): String = {
    var tPhase = System.nanoTime()
    def phaseLap(name: String): Unit = {
      val t = System.nanoTime()
      onPhase(name, (t - tPhase) / 1e9)
      tPhase = t
    }
    val fin = h.finalRanksDf(spark)
    val a = fin.select(col("rank"), col("pos").as("a_pos"))
    val b = fin.select((col("rank") - 1).as("rank"), col("pos").as("b_pos"))
    val outPath = Scratch.allocPath("sa-lcp")
    val lcpSchemaEmpty = spark.range(0).select(
      lit(0L).as("rank"), lit(0L).as("a_pos"),
      lit(0L).as("b_pos"), lit(0L).as("lcp"))
    Scratch.appendPath(lcpSchemaEmpty, outPath) // dir always readable
    if (h.n <= 1) return outPath

    // ---- composite build: one bucketed (pos, rs[levels]) relation.
    // The accumulating join chain lands every [[LcpLandEvery]] levels —
    // an unlanded 19-way SMJ chain keeps every join's sorter alive in
    // one task pipeline and OOMs at the 100× width (measured).
    val parts = shufflePartitions(spark)
    var comp0 = h.levelDf(spark, 0)
      .select(col("pos"), array(col("rank")).as("rs"))
    var compScratch: Option[String] = None
    var sinceCompLand = 0
    for (i <- 1 until h.levels.size) {
      comp0 = comp0
        .join(h.levelDf(spark, i).select(col("pos"), col("rank").as("__r")),
          Seq("pos"))
        .select(col("pos"), concat(col("rs"), array(col("__r"))).as("rs"))
      sinceCompLand += 1
      if (sinceCompLand == LcpLandEvery && i < h.levels.size - 1) {
        val landed = Scratch.materializePath(comp0, "sa-lcp-comp-part")
        compScratch.foreach(Scratch.release)
        compScratch = Some(landed)
        comp0 = graft.Tables.parquet(spark, landed)
        sinceCompLand = 0
      }
    }
    val compDir = Scratch.allocPath("sa-lcp-comp")
    val tbl = "graft_lcp_comp_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    comp0.write.bucketBy(parts, "pos").sortBy("pos")
      .option("path", compDir).saveAsTable(tbl)
    compScratch.foreach(Scratch.release)
    try {
      val comp = spark.table(tbl)
      phaseLap("comp_build")

      // level metadata, descending: (prefix, 1-based rs index, level above)
      val descIdx = h.levels.indices.sortBy(i => -h.levels(i).prefixLen)
      val meta = descIdx.zipWithIndex.map { case (li, j) =>
        val p = h.levels(li).prefixLen
        val above =
          if (j == 0) 2L * p else h.levels(descIdx(j - 1)).prefixLen
        (p, li + 1, above)
      }
      val pTop = h.levels.map(_.prefixLen).max
      // largest eligible matching level (0 = none): descending when-chain
      def pmExpr: org.apache.spark.sql.Column =
        meta.foldRight(lit(0L)) { case ((p, idx, _), rest) =>
          when(col("bound") > p &&
            element_at(col("__ra"), idx) === element_at(col("__rb"), idx),
            lit(p)).otherwise(rest)
        }
      // tightened bound after a match (pm > 0)
      def boundExpr: org.apache.spark.sql.Column =
        meta.foldRight(lit(1L)) { case ((p, _, above), rest) =>
          when(col("__pm") === p,
            least(col("bound"), lit(above)) - p).otherwise(rest)
        }

      var statePath = Scratch.materializePath(
        a.join(b, Seq("rank"))
          .withColumn("lcp", lit(0L))
          .withColumn("bound", lit(2L * pTop)), "sa-lcp-fly")
      var stateHasDone = false
      var inFlight = h.n - 1
      // rounds bound: popcount ≤ ladder size, plus a seeded hole's
      // level-1 replays (≤ max adjacent ratio), plus slack
      val maxHole = meta.map { case (p, _, above) => above / p }.max
      val maxRounds = h.levels.size + maxHole.toInt + 4
      var round = 0
      while (inFlight > 0 && round < maxRounds) {
        round += 1
        val st0 = graft.Tables.parquet(spark, statePath)
        val state =
          if (stateHasDone) st0.filter(!col("__done")).drop("__done")
          else st0
        val smallRegime = inFlight <= broadcastMax
        val lookup =
          if (smallRegime) {
            val need = state.select(explode(array(
              col("a_pos") + col("lcp"), col("b_pos") + col("lcp")))
              .as("need")).distinct()
            broadcast(comp.join(broadcast(need),
              col("pos") === col("need"), "left_semi")
              .select(col("pos"), col("rs")))
          } else comp.select(col("pos"), col("rs"))
        val stepped = state
          .join(lookup.select(col("pos").as("__ap"), col("rs").as("__ra")),
            col("__ap") === col("a_pos") + col("lcp"), "left")
          .join(lookup.select(col("pos").as("__bp"), col("rs").as("__rb")),
            col("__bp") === col("b_pos") + col("lcp"), "left")
          .withColumn("__pm",
            when(col("__ra").isNotNull && col("__rb").isNotNull, pmExpr)
              .otherwise(lit(0L)))
          .withColumn("__nb",
            when(col("__pm") === 0L, lit(1L)).otherwise(boundExpr))
          .select(col("rank"), col("a_pos"), col("b_pos"),
            (col("lcp") + col("__pm")).as("lcp"),
            col("__nb").as("bound"),
            (col("__nb") <= 1L).as("__done"))
        val newPath = Scratch.materializePath(stepped, "sa-lcp-fly")
        Scratch.release(statePath)
        statePath = newPath
        stateHasDone = true
        val resolved = Scratch.appendPathCounted(
          graft.Tables.parquet(spark, newPath).filter(col("__done"))
            .select(col("rank"), col("a_pos"), col("b_pos"), col("lcp")),
          outPath)
        inFlight -= resolved
      }
      require(inFlight == 0,
        s"composite descent left $inFlight pairs after $maxRounds rounds")
      Scratch.release(statePath)
      phaseLap("rounds")
      outPath
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Scratch.release(compDir)
    }
  }

  /** ACTIVE-SET LCP: bracket-up then refine-down over the hierarchy —
    * BUILT FOR r15 verdict ask #2, MEASURED AND KEPT OFF (the q173
    * cold-entry / seedWidth discipline: reject with numbers). The ask's
    * premise — "a pair resolved at level p never needs deeper levels" —
    * is true for join TRAFFIC but join traffic is not the cost driver:
    * every level join pays a FIXED shuffle of the full n-row level
    * relation regardless of how few pairs remain, and splitting the
    * descent into two passes nearly doubles the count of those fixed
    * shuffles. Measured at the 100× design point (27,070,400 tokens,
    * local[8], same session shape as BASELINE's 255.9 s default):
    *   - direct-compare K=16 Phase A + descent: 345.8 s (the rotated
    *     siblings leave ~80% of pairs at LCP ≥ 16 — fat arrays, no
    *     shrink);
    *   - bracket-up/refine-down, per-level lands: 287.3 s;
    *   - with 4-level UP chaining: 322.1 s (exited rows riding the
    *     chain cost more than the saved lands);
    *   - phase split (re-measure): up 228.8 s / down 135.1 s.
    * All lose to the 255.9 s top-down default. The winning redesign —
    * pivot the hierarchy into a per-position composite rank row so a
    * lookup serves EVERY level at an offset and a pair finishes in
    * popcount(lcp)+1 lookups — is recorded in BASELINE.md for a future
    * round. Property coverage (both refine regimes) keeps this variant
    * correct meanwhile.
    *
    * Semantics, both passes exact:
    *
    * UP (bracket): pairs join each level ASCENDING at their own
    * STATIC positions — rank equality at level p ⟺ lcp ≥ p (the
    * build's shorter-suffix sentinel makes a short suffix distinct
    * from longer ones at any level past its end, so text ends need no
    * special case). A pair leaves the pass at its FIRST mismatching
    * level q, carrying the exact bracket lcp ∈ [M, q) (M = the level
    * below q, its last match; M = 0 at level 1). The live set shrinks
    * with the true LCP tail distribution; the top level empties it
    * (the converged build ranks all suffixes distinct ⟹ every pair
    * mismatches by then).
    *
    * DOWN (refine): greedy remainder capture — add level p whenever
    * ranks at (a+lcp, b+lcp) match. Each bracket class (M, q) has
    * remainder < q − M, so classes with q − M ≤ 1 are already EXACT
    * (binary-ladder brackets [0,1) and [1,2)), and the rest INJECT at
    * the first rep of the level TWO below q in the descending ladder —
    * the level one below would always mismatch for them (adding M
    * again overshoots the bracket), and the invariant there (remainder
    * < level-below-q) holds because build ladders double everywhere
    * except the bottom seed jump, where the inject target collapses to
    * the bottom level and its `prev/p − 1` reps cover the hole (the
    * seeded 8 → 1 ladder: level 1 applied 7 times). After the bottom
    * level's reps the remainder is 0 for every pair.
    *
    * Caller owns `h` (NOT released here). `broadcastMax` is a test
    * seam (specs pin both refine regimes); production callers take the
    * default. */
  private[graft] def lcpFromLevelsBracket(spark: SparkSession, h: SaHierarchy,
      broadcastMax: Long = LcpBroadcastActiveMax,
      onPhase: (String, Double) => Unit = (_, _) => ()): String = {
    var tPhase = System.nanoTime()
    def phaseLap(name: String): Unit = {
      val t = System.nanoTime()
      onPhase(name, (t - tPhase) / 1e9)
      tPhase = t
    }
    val fin = h.finalRanksDf(spark)
    val a = fin.select(col("rank"), col("pos").as("a_pos"))
    val b = fin.select((col("rank") - 1).as("rank"), col("pos").as("b_pos"))
    val outPath = Scratch.allocPath("sa-lcp")
    val brkPath = Scratch.allocPath("sa-lcp-brk")

    // ---- UP: bracket every pair at its first mismatching level.
    // Levels chain [[LcpLandEvery]] per landed plan (the same batching
    // the refine pass uses): one land per GROUP instead of per level —
    // measured at the 100× point, per-level landing wrote ~166M state
    // rows across the pass and cost 287 s wall; batched, the pass lands
    // only each group's entry state. Rows that exit mid-group ride the
    // group's remaining joins once more (≤ 3 extra lookups each) —
    // cheaper than landing. The landed group relation carries `__x` =
    // the first mismatching level's prefix (0 = still live), so the
    // per-level bracket classes are cheap filter scans of it.
    var statePath =
      Scratch.materializePath(a.join(b, Seq("rank")), "sa-lcp-up")
    var stateHasExit = false
    var live = math.max(0L, h.n - 1)
    var prevUp = 0L
    // per-bound mismatch counts (driver state: one Long per level) —
    // they schedule the DOWN injections and size its regime WITHOUT
    // re-counting anything
    val boundCounts = scala.collection.mutable.Map.empty[Long, Long]
    for (grp <- h.levels.indices.grouped(LcpLandEvery) if live > 0) {
      val st0 = graft.Tables.parquet(spark, statePath)
      var cur =
        if (stateHasExit) st0.filter(col("__x") === 0L).drop("__x") else st0
      // inner joins on the pair's OWN positions (static keys): every
      // position exists in the full level relation, and the small side
      // broadcasts once the live set shrinks under the AQE threshold
      val ms = grp.map { li =>
        val p = h.levels(li).prefixLen
        val rp = h.levelDf(spark, li)
        cur = cur
          .join(rp.select(col("pos").as("a_pos"),
            col("rank").as(s"__ar$li")), Seq("a_pos"))
          .join(rp.select(col("pos").as("b_pos"),
            col("rank").as(s"__br$li")), Seq("b_pos"))
          .withColumn(s"__m$li", col(s"__ar$li") === col(s"__br$li"))
          .drop(s"__ar$li", s"__br$li")
        (p, s"__m$li")
      }
      val exit = ms.foldRight(lit(0L)) { case ((p, m), rest) =>
        when(!col(m), lit(p)).otherwise(rest)
      }
      val newPath = Scratch.materializePath(
        cur.select(col("rank"), col("a_pos"), col("b_pos"),
          exit.as("__x")), "sa-lcp-up")
      Scratch.release(statePath)
      statePath = newPath
      stateHasExit = true
      val landed = graft.Tables.parquet(spark, newPath)
      for ((p, _) <- ms) {
        val mism = Scratch.appendPathCounted(
          landed.filter(col("__x") === p)
            .select(col("rank"), col("a_pos"), col("b_pos"),
              lit(prevUp).as("lcp"), lit(p).as("bound")), brkPath)
        if (mism > 0) boundCounts(p) = mism
        live -= mism
        prevUp = p
      }
    }
    require(live == 0, s"bracket pass left $live pairs live — the " +
      "converged hierarchy's top level must rank all suffixes distinct")
    Scratch.release(statePath)
    phaseLap("up")

    // bracket classes with remainder 0 (bound − lcp ≤ 1) are exact;
    // the empty-schema union keeps the output dir readable when the
    // corpus has no pairs at all (n ≤ 1)
    val lcpSchemaEmpty = spark.range(0).select(
      lit(0L).as("rank"), lit(0L).as("a_pos"),
      lit(0L).as("b_pos"), lit(0L).as("lcp"))
    val resolvedDirect =
      if (boundCounts.nonEmpty)
        graft.Tables.parquet(spark, brkPath)
          .filter(col("bound") - col("lcp") <= 1)
          .select(col("rank"), col("a_pos"), col("b_pos"), col("lcp"))
      else lcpSchemaEmpty
    Scratch.appendPath(resolvedDirect.unionByName(lcpSchemaEmpty), outPath)

    // ---- DOWN: refine each remaining bracket class
    // ladder (descending) + injection schedule: class bound = L(i)
    // joins at the first rep of L(i+2) (see Scaladoc); bottom-adjacent
    // classes join at the bottom level itself
    val descIdx = h.levels.indices.sortBy(i => -h.levels(i).prefixLen)
    val descP = descIdx.map(h.levels(_).prefixLen)
    val levelBelow: Map[Long, Long] =
      descP.zip(descP.drop(1)).toMap // bound -> its M
    val injectAt: Map[Long, Long] = descP.zipWithIndex.flatMap {
      case (q, i) =>
        if (i + 2 < descP.size) Some(q -> descP(i + 2))
        else if (i + 1 < descP.size) Some(q -> descP(i + 1))
        else None // bottom-level bound: remainder 0, resolved above
    }.toMap
    def unresolvedClass(q: Long): Boolean =
      q - levelBelow.getOrElse(q, 0L) > 1 && boundCounts.contains(q)

    // rep expansion with first-rep flags (reps per level: prev/p − 1)
    val rev = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
    var prevP = -1L
    for (i <- descIdx) {
      val p = h.levels(i).prefixLen
      val reps = if (prevP < 0) 1 else math.max(1L, prevP / p - 1L).toInt
      var r = 0
      while (r < reps) { rev += ((i, r == 0)); r += 1 }
      prevP = p
    }

    var downPath: Option[String] = None // landed state, when landed
    var state: Option[org.apache.spark.sql.DataFrame] = None
    var inFlight = 0L
    var sinceLand = 0
    for (((li, firstRep), idx) <- rev.zipWithIndex) {
      val p = h.levels(li).prefixLen
      if (firstRep) {
        val qs = injectAt.collect {
          case (q, ip) if ip == p && unresolvedClass(q) => q
        }.toSeq
        if (qs.nonEmpty) {
          val inj = graft.Tables.parquet(spark, brkPath)
            .filter(col("bound").isin(qs: _*))
            .select(col("rank"), col("a_pos"), col("b_pos"), col("lcp"))
          state = Some(state.map(_.unionByName(inj)).getOrElse(inj))
          inFlight += qs.map(boundCounts).sum
        }
      }
      if (state.nonEmpty) {
        val smallRegime = inFlight <= broadcastMax
        val rpFull = h.levelDf(spark, li)
        var rpScratch: Option[String] = None
        val rp = if (smallRegime) {
          // one columnar scan of the level relation, semi-filtered to
          // the ≤ 2×inFlight positions this level can touch, then
          // broadcast to both lookups — no shuffle in the small regime
          // (state is landed every rep there, so `need` reads parquet
          // plus at most one injection union)
          val need = state.get.select(explode(array(
            col("a_pos") + col("lcp"), col("b_pos") + col("lcp")))
            .as("need")).distinct()
          val fp = Scratch.materializePath(
            rpFull.join(broadcast(need), col("pos") === col("need"),
              "left_semi"), "sa-lcp-rp")
          rpScratch = Some(fp)
          broadcast(graft.Tables.parquet(spark, fp))
        } else rpFull
        val stepped = state.get
          .join(rp.select(col("pos").as("__ap"), col("rank").as("__ar")),
            col("__ap") === col("a_pos") + col("lcp"), "left")
          .join(rp.select(col("pos").as("__bp"), col("rank").as("__br")),
            col("__bp") === col("b_pos") + col("lcp"), "left")
          .withColumn("lcp",
            when(col("__ar").isNotNull && col("__br").isNotNull &&
              col("__ar") === col("__br"), col("lcp") + p)
              .otherwise(col("lcp")))
          .select(col("rank"), col("a_pos"), col("b_pos"), col("lcp"))
        sinceLand += 1
        if (smallRegime || sinceLand == LcpLandEvery ||
            idx == rev.size - 1) {
          val newState = Scratch.materializePath(stepped, "sa-lcp-down")
          downPath.foreach(Scratch.release)
          downPath = Some(newState)
          state = Some(graft.Tables.parquet(spark, newState))
          sinceLand = 0
        } else state = Some(stepped)
        rpScratch.foreach(Scratch.release)
      }
    }
    // the last rep force-lands, so the final state is pure parquet
    downPath.foreach { dp =>
      Scratch.appendPath(graft.Tables.parquet(spark, dp), outPath)
      Scratch.release(dp)
    }
    Scratch.release(brkPath)
    phaseLap("down")
    outPath
  }

  /** The per-round rank result of [[rankByKeyPath]]: `path` lands
    * (pos, rank, solo — true iff the row's key group is a singleton,
    * i.e. the suffix is RESOLVED); `maxGroup` is the EXACT size of the
    * largest key group (boundary-straddling chains included) — the
    * active-set switch criterion. */
  private[operators] final case class Ranked(
      path: String, groups: Long, n: Long, maxGroup: Long)

  /** FUSED equality-preserving parallel rank: over the total order
    * (keys…, pos), every row takes the MINIMUM 1-based global
    * row_number of its key group — equal keys ⇒ equal rank, so rank
    * equality certifies key equality (the property every doubling round
    * depends on). No single-partition window and no group-min join:
    *
    *   1. range-partition + in-partition sort by (keys…, pos), persisted
    *      (MEMORY_AND_DISK_SER) so both passes see ONE layout — the
    *      range boundaries live in the fixed shuffle dependency, so even
    *      a lost-partition recompute reuses them;
    *   2. stats pass: per partition, one driver row (count, first/last
    *      key, distinct keys, local start of the last key group, head
    *      and max run lengths) — numPartitions rows total, never data;
    *   3. driver stitch: per-partition rank offsets plus the carry rank
    *      for key groups that straddle a partition boundary (a group
    *      spanning k partitions merges k−1 boundary pairs — the same
    *      arithmetic dedupes the global distinct-group count and sizes
    *      every straddling chain for the exact max-group figure);
    *   4. emit pass: (pos, rank, solo) with a per-partition linear scan
    *      (one-row lookahead decides run ends; boundary continuations
    *      come from the stitch), landed to scratch — the ONLY
    *      materialization. */
  private[operators] def rankByKeyPath(
      df: DataFrame, keys: Seq[String]): Ranked = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = shufflePartitions(spark)
    val sortCols = keys.map(col) :+ col("pos")
    val rows = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .select(struct(keys.map(col): _*).as("k"), col("pos").cast("long"))
      .rdd
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // pass 1 — per-partition stats (tiny: one row per partition)
      val stats = rows.mapPartitionsWithIndex { (i, it) =>
        var count = 0L; var distinct = 0L; var lastStart = 0L
        var first: Row = null; var cur: Row = null
        var headRun = 0L; var maxRun = 0L; var runLen = 0L
        while (it.hasNext) {
          val k = it.next().getStruct(0)
          if (count == 0L) first = k
          if (cur == null || k != cur) {
            if (cur != null) {
              if (distinct == 1L) headRun = runLen
              maxRun = math.max(maxRun, runLen)
            }
            distinct += 1; cur = k; lastStart = count; runLen = 0L
          }
          runLen += 1; count += 1
        }
        if (cur != null) {
          if (distinct == 1L) headRun = runLen
          maxRun = math.max(maxRun, runLen)
        }
        Iterator.single(
          (i, count, first, cur, distinct, lastStart, headRun, maxRun))
      }.collect().sortBy(_._1)

      // driver stitch: offsets, boundary merges, head-group carry ranks,
      // exact max group size (within-partition runs + straddling chains)
      val counts = stats.map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val n = offsets.last
      val carry = Array.fill(stats.length)(-1L) // -1 ⇒ head starts a new group
      val tailMerged = Array.fill(stats.length)(false)
      var groupCount = 0L
      var maxGroup = 0L
      var prevKey: Row = null
      var prevIdx = -1
      var curStart = 0L // 1-based global rn where the open group started
      var runningTail = 0L // size of the group open at the previous tail
      for (s <- stats; if s._2 > 0) {
        val (i, count, first, last, distinct, lastStart, headRun, maxRun) = s
        val merged = prevKey != null && first == prevKey
        if (merged) {
          carry(i) = curStart
          tailMerged(prevIdx) = true
          val chain =
            runningTail + (if (distinct == 1L) count else headRun)
          maxGroup = math.max(maxGroup, chain)
          runningTail =
            if (distinct == 1L) chain else count - lastStart
        } else runningTail = count - lastStart
        maxGroup = math.max(maxGroup, math.max(maxRun, runningTail))
        groupCount += distinct - (if (merged) 1 else 0)
        if (!(merged && distinct == 1L))
          curStart = offsets(i) + lastStart + 1
        prevKey = last
        prevIdx = i
      }

      // pass 2 — emit (pos, rank, solo); rank = group's first global rn,
      // solo ⟺ the run is length 1 and continues into neither neighbor
      val bc = spark.sparkContext.broadcast((offsets, carry, tailMerged))
      val ranked = rows.mapPartitionsWithIndex { (i, it0) =>
        val (offs, carries, tails) = bc.value
        val off = offs(i); val headCarry = carries(i); val tailM = tails(i)
        val it = it0.buffered
        new Iterator[(Long, Long, Boolean)] {
          private var cur: Row = null
          private var curRank = 0L
          private var localIdx = -1L
          private var firstOfRun = false
          def hasNext: Boolean = it.hasNext
          def next(): (Long, Long, Boolean) = {
            localIdx += 1
            val r = it.next()
            val k = r.getStruct(0)
            if (cur == null) {
              cur = k
              curRank = if (headCarry >= 0L) headCarry else off + 1L
              firstOfRun = headCarry < 0L
            } else if (k != cur) {
              cur = k
              curRank = off + localIdx + 1L
              firstOfRun = true
            } else firstOfRun = false
            val lastOfRun =
              if (it.hasNext) it.head.getStruct(0) != k else !tailM
            (r.getLong(1), curRank, firstOfRun && lastOfRun)
          }
        }
      }
      val outPath = Scratch.materializePath(
        ranked.toDF("pos", "rank", "solo"), "suffix-ranks")
      Ranked(outPath, groupCount, n, maxGroup)
    } finally rows.unpersist(blocking = false)
  }
}
