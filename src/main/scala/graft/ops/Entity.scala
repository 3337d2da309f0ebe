package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage / dirty-key dedup): resolve
  * records whose KEY strings differ by small typos into entities,
  * without ever going all-pairs — the structured-record sibling of
  * the text dedup family, for the "same customer entered twice"
  * shape every large warehouse carries.
  *
  * Blocking is the deletion-1 neighborhood (the FastSS scheme,
  * Bocek et al. 2007): each record emits its key plus every
  * single-character deletion of it (L+1 short strings for an L-char
  * key). Two keys within Levenshtein distance 1 ALWAYS share a
  * neighborhood member — equal keys share the key itself, a
  * deletion pair shares the shorter key, a substitution pair shares
  * the both-sides deletion of the differing position — so blocking
  * recall at τ = 1 is exactly 100%, with no LSH tuning and no
  * quadratic risk: block keys are near-unique strings, so bucket
  * sizes stay O(true-match group), independent of corpus size.
  *
  * Scale shape: one explode (L+1 rows per record, each a few-byte
  * string + an 8-byte rid), one hash-shuffle self-join on (block
  * columns, neighborhood key), DISTINCT pair dedup, then the
  * verify join touches only candidate pairs (codegen'd
  * `levenshtein` on the two names). The transitive closure is
  * [[Dedup.connectedComponents]] (union-find contraction rounds on
  * 8-byte id pairs). Full names never ride the blocking shuffle —
  * only neighborhood keys do. */
object Entity {

  /** Size gate for the scale-adaptive verify-join hint in
    * [[verifiedEdges]]: name-side relations whose optimizedPlan stats
    * exceed this get a shuffle_hash hint (see the note at the join).
    * Env-parameterised with a local default ABOVE the auto-broadcast
    * ceiling, so bench-scale plans are untouched. */
  private lazy val ShjAboveBytes: Long =
    PlanHints.bytesFromEnv("SPARK_GRAFT_SHJ_ABOVE_BYTES", 16L << 20)

  /** The deletion-≤k neighborhood of `key` as an array column
    * (k ∈ {1, 2}): the key itself, every single-character deletion
    * in position order, and for k = 2 every two-character deletion
    * (positions i < j), deduplicated. The FastSS guarantee
    * generalizes: if lev(u, v) ≤ k, deleting from u the positions
    * its alignment edits as sub/del and from v the positions edited
    * as sub/ins leaves the common subsequence — a member of BOTH
    * deletion-≤k neighborhoods — so blocking recall at τ = k is
    * 100% by construction. Key count is 1 + L + L(L−1)/2 for k = 2
    * (O(L²), 56 variants for a 10-char key — still bounded for the
    * short-key shape this family targets). */
  def deletionKeys(key: Column, k: Int = 1): Column = {
    require(k >= 1 && k <= 2, s"deletion neighborhood depth $k not in [1, 2]")
    val L = length(key)
    val d1 = transform(sequence(lit(1), L), i =>
      concat(key.substr(lit(1), i - 1), key.substr(i + 1, L)))
    if (k == 1) concat(array(key), d1)
    else {
      // guard: sequence(1, 0) would DESCEND ([1, 0]) for L < 2
      val d2 = when(L >= 2, flatten(
        transform(sequence(lit(1), L - 1), i =>
          transform(sequence(i + 1, L), j =>
            concat(key.substr(lit(1), i - 1),
              key.substr(i + 1, j - i - 1),
              key.substr(j + 1, L))))))
        .otherwise(array().cast("array<string>"))
      array_distinct(concat(array(key), d1, d2))
    }
  }

  /** 64-bit fingerprints of the deletion-neighborhood keys: blocking
    * joins carry HASHES, not strings — the dedup-family shuffle
    * doctrine (measured 5.7 → 3.4 s on the τ=2 blocking join at
    * sf0.1). A hash collision adds a spurious candidate pair that
    * the verify predicate then rejects (levenshtein for [[resolve]],
    * the graded comparator for [[resolveWith]]), so results are
    * unchanged up to the same 2⁻⁶⁴ collision trade every
    * fingerprint-carrying operator in the repo already makes.
    * Since r14 this is the native [[EntityKeyFns]] kernel (one tight
    * loop in whole-stage codegen; hash-parity with the former
    * `transform(deletionKeys(key, k), xxhash64)` column form pinned
    * by EntitySpec) — the interpreted HOF chain was the τ=2 plan's
    * single biggest stage at 2.8 s/30k records. The kernel also
    * deduplicates the k = 1 stream (the column form didn't):
    * duplicate variants only ever produced duplicate candidate rows
    * for the DISTINCT to collapse, so pairs are unchanged. */
  private def hashedKeys(key: Column, k: Int): Column =
    EntityKeyExpressions.keyHashesCol(key,
      if (k == 1) EntityKeyFns.D1 else EntityKeyFns.D2)

  /** Candidate pairs (id_a < id_b) whose keys share a deletion-≤k
    * neighborhood member AND agree exactly on every `blockCols`
    * column — the cheap structured-equality prior (nation, segment,
    * zip…) that keeps buckets small and candidates plausible. */
  def candidatePairs(df: DataFrame, idCol: String, keyCol: String,
                     blockCols: Seq[String], k: Int = 1): DataFrame = {
    // explicit null filter + KnownNotNull: the exploded key serves
    // as a join key, and a nullable kernel input would re-run the
    // neighborhood build in an inferred pushed-down IsNotNull
    // filter (the PlanAudit r11 pattern)
    val keyed = df.where(col(keyCol).isNotNull)
      .select((col(idCol) +: blockCols.map(col)) :+
        explode(hashedKeys(
          PlanHints.knownNotNull(col(keyCol)), k)).as("__bk"): _*)
    val joinCols = blockCols :+ "__bk"
    val a = keyed.toDF(keyed.columns.map {
      case c if c == idCol => "__ida" case c => c }: _*)
    val b = keyed.select(col(idCol).as("__idb") +:
      joinCols.map(col): _*)
    // deliberately SORT-MERGE (guide §3.1, measured r14): a
    // shuffle_hash hint here read 3-4x SLOWER (jw 3.8 → 12 s,
    // quality 4.0 → 11 s isolated at sf0.1) — the low-entropy digit
    // keys concentrate the deletion-variant hashes, and the SHJ
    // build side's hot-key chains degrade where sort-merge's run
    // handling does not.
    a.join(b, joinCols)
      .where(col("__ida") < col("__idb"))
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
      .distinct()
  }

  /** Candidate pairs at lev ≤ 2 via SPLIT-NEIGHBORHOOD blocking —
    * the same 100%-recall contract as `candidatePairs(k = 2)` at a
    * fraction of its join cost. The full deletion-≤2 self-join
    * explodes 1 + L + L(L−1)/2 keys per record on BOTH sides; this
    * form keeps the O(L²) explode on the probe side only and joins
    * it against an O(L) deletion-≤1 index, plus a position-pair-
    * tagged equality join for the one case that split misses.
    *
    * Completeness (FastSS alignment argument, per witnessing
    * alignment with e_sub + e_del + e_ins ≤ 2): deleting the edited
    * positions leaves a common string in D_du(u) ∩ D_dv(v) with
    * du = e_sub + e_del, dv = e_sub + e_ins. Every edit combination
    * except two substitutions lands at dv ≤ 1 (or du ≤ 1 by
    * symmetry), so the asymmetric D≤2 ⋈ D≤1 self-join — each record
    * plays both roles — catches it. Two substitutions mean equal
    * length and ≤ 2 differing positions: the position-pair-tagged
    * deletion join below catches exactly that case (take (i, j) =
    * the two differing positions — or any pair containing them —
    * and both records emit the identical (i, j, remainder) tag).
    * Union + DISTINCT; the verify filters false positives as
    * always.
    *
    * Scale: per-colliding-key join products drop from
    * O(L²)·O(L²) to O(L²)·O(L) on the asymmetric path, and the
    * tagged path's collisions ARE the true hamming-≤2 pairs by
    * construction — no low-entropy-bucket quadratic term at all
    * (the r13 segment-pigeonhole draft measured 2.2M products for
    * 81k candidates on leading-zero digit keys; tags remove the
    * cross-record false positives entirely). */
  def candidatePairsSplit2(df: DataFrame, idCol: String, keyCol: String,
                           blockCols: Seq[String]): DataFrame = {
    // Probe side = D≤2 deletion hashes + position-pair tags; index
    // side = D≤1 deletion hashes + tags — both emitted by the native
    // [[EntityKeyFns]] kernel (r14: the interpreted HOF explode was
    // the plan's single biggest stage at 2.8 s/30k records; the
    // kernel assembles variant bytes in a reused scratch buffer
    // inside whole-stage codegen). Tags ride the SAME hash column as
    // deletion keys: a cross-kind collision adds a spurious
    // candidate the verify rejects — the usual 2⁻⁶⁴ trade.
    // Deep×deep bucket products never form: the index explode simply
    // doesn't emit depth-2 keys (on low-entropy keys the deep
    // buckets are the ones that grow with corpus size).
    // Join keys stay primitive (blockCols, bigint hash): a
    // struct-typed equi-join key drops the join out of the codegen'd
    // hash path (measured 10.5 s vs 6.4 s at sf0.1); the (i, j) tag
    // folds into the hash args instead. Tag completeness: records
    // collide on tag (i, j, remainder) IFF they agree at every
    // position outside {i, j} — equal remainder strings force equal
    // key lengths, so no separate length key is needed — i.e. the
    // tag join's false-positive set is empty by construction (vs.
    // the 3-segment pigeonhole, whose low-entropy buckets go
    // quadratic: measured 2.2M pre-distinct products for 81k real
    // candidates on leading-zero digit keys at sf0.1). Exact-dup
    // keys collide on all C(L,2) tags; DISTINCT collapses them, a
    // LINEAR overhead matching the probe side's O(L²) bound.
    val joinCols = blockCols :+ "__bk"
    val keyed = df.where(col(keyCol).isNotNull)
      .select((col(idCol) +: blockCols.map(col)) :+
        PlanHints.knownNotNull(col(keyCol)).as("__key"): _*)
    val probe = keyed.select((col(idCol).as("__ida") +:
      blockCols.map(col)) :+
      explode(EntityKeyExpressions.keyHashesCol(
        col("__key"), EntityKeyFns.Probe2)).as("__bk"): _*)
    val index = keyed.select((col(idCol).as("__idb") +:
      blockCols.map(col)) :+
      explode(EntityKeyExpressions.keyHashesCol(
        col("__key"), EntityKeyFns.Index2)).as("__bk"): _*)
    // deliberately SORT-MERGE: a shuffle_hash hint was tried in the
    // r14 optimization round and read slower/noisier — the same
    // hot-key SHJ build degradation candidatePairs documents (the
    // C(L,2) tag hashes of exact-dup families are the hot keys here).
    probe.join(index, joinCols)
      .where(col("__ida") =!= col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"))
      .distinct()
  }

  /** Resolve records into entities: deletion-neighborhood blocking
    * at depth min(τ, 2), `levenshtein(name_a, name_b) <= tau`
    * verification (the blocking recall guarantee holds for τ ≤ 2;
    * τ > 2 still verifies but only over distance-2-blocked
    * candidates), transitive closure, entity id = min record id of
    * the component. Every record appears in the output — unmatched
    * records are their own entity. Returns the input plus an
    * `entity` column. */
  def resolve(df: DataFrame, idCol: String, keyCol: String,
              nameCol: String, blockCols: Seq[String],
              tau: Int = 1): DataFrame =
    resolveWith(df, idCol, keyCol, nameCol, blockCols,
      math.min(math.max(tau, 1), 2),
      (a, b) => levenshtein(a, b) <= tau)

  /** [[resolve]] with a caller-supplied verify predicate over the two
    * candidate names — the graded-comparator form (e.g. Jaro–Winkler
    * ≥ θ, [[StringSim.jaroWinklerCol]]): blocking stays the
    * deletion-`blockK` neighborhood, so the 100%-recall-by-
    * construction guarantee applies to the CANDIDATE set at
    * Levenshtein ≤ blockK; a similarity verify then accepts or
    * rejects candidates on its own scale (real linkage pipelines
    * compose exactly this way — cheap structural blocking, graded
    * scoring). Verify sees only candidate pairs; closure and
    * labeling are unchanged. */
  def resolveWith(df: DataFrame, idCol: String, keyCol: String,
                  nameCol: String, blockCols: Seq[String],
                  blockK: Int,
                  verify: (Column, Column) => Column): DataFrame = {
    val cand =
      if (blockK == 2) candidatePairsSplit2(df, idCol, keyCol, blockCols)
      else candidatePairs(df, idCol, keyCol, blockCols, blockK)
    // verified is pair-distinct by construction (candidatePairs*
    // DISTINCT → many-to-one name joins → filter); the closure's
    // round-0 contraction needs no dedup shuffle either way
    val verified = verifiedEdges(cand, df, idCol, nameCol, verify)
    val comp = Dedup.connectedComponents(verified, "id_a", "id_b")
    df.join(comp.select(col("node").as(idCol), col("component")),
        Seq(idCol), "left")
      .withColumn("entity",
        coalesce(col("component"), col(idCol).cast("long")))
      .drop("component")
  }

  /** The verify stage of [[resolveWith]]: the candidate pairs
    * (id_a, id_b) whose two names — `nameCol` of the `idCol` rows of
    * `names` — pass `verify`. */
  def verifiedEdges(cand: DataFrame, names: DataFrame, idCol: String,
                    nameCol: String,
                    verify: (Column, Column) => Column): DataFrame = {
    val names0 = names.select(col(idCol), col(nameCol))
    // SCALE-ADAPTIVE verify-join strategy (r15, guide §3.1): below the
    // gate the planner broadcasts the name side (the right call — and
    // what a forced hint would destroy, the r14 rejection); above it
    // the contest is SMJ vs SHJ on the O(pairs) side, and a quiesced
    // 100× A/B (VerifyJoinAB; its plans are in plans/r15, its timing
    // log is not committed) reads SHJ consistently
    // ~5% faster (58.4/60.5/64.1 vs 61.6/62.5/70.7 s min-of-3
    // alternating) — the hash build keys on the UNIQUE record id, so
    // the hot-key SHJ degradation of the blocking joins cannot occur,
    // and the pairs side skips both SMJ sorts. Default gate 16 MB
    // (above the 10 MB auto-broadcast ceiling, under the 100×
    // fixture's 24.8 MB name stats), env-parameterised.
    val side =
      if (names0.queryExecution.optimizedPlan.stats.sizeInBytes >
        BigInt(ShjAboveBytes)) names0.hint("shuffle_hash")
      else names0
    cand
      .join(side.select(col(idCol).as("id_a"),
        col(nameCol).as("__na")), "id_a")
      .join(side.select(col(idCol).as("id_b"),
        col(nameCol).as("__nb")), "id_b")
      .where(verify(col("__na"), col("__nb")))
      .select("id_a", "id_b")
  }

  /** Deletion-neighborhood index of a RESOLVED archive — build (and
    * persist) once, then steady-state arrivals probe it via
    * [[resolveAgainst]] without the archive ever self-joining again
    * (the incremental-dedup discipline): one row per (record,
    * neighborhood key) carrying the block columns, the record's name
    * (for the verify), and its entity label. */
  def archiveIndex(resolved: DataFrame, keyCol: String,
                   nameCol: String, blockCols: Seq[String],
                   k: Int = 1): DataFrame =
    resolved.where(col(keyCol).isNotNull)
      .select(blockCols.map(col) ++ Seq(
        explode(hashedKeys(
          PlanHints.knownNotNull(col(keyCol)), k)).as("__bk"),
        col(nameCol).as("__arch_name"),
        col("entity").as("__arch_entity")): _*)

  /** Resolve arrivals against an [[archiveIndex]] ONLY: entity = the
    * minimum verified archive entity, else the arrival's own id.
    * Each arrival's label depends on itself and the static index
    * alone — no arrival-arrival linking — so the assignment is
    * batch-split invariant (explode → left join against the index →
    * keyed aggregate; arrivals that link only to EACH OTHER stay
    * distinct entities until the next archive rebuild, the standard
    * steady-state trade documented by the incremental dedup family).
    * `keep` columns ride the grouping key (single-row grain per id,
    * so grouping by them is free) — there is no join-back. The
    * arrival side explodes at depth min(τ, 2); the τ ≤ 2 recall
    * guarantee additionally requires the [[archiveIndex]] to have
    * been built with the SAME depth (alignment deletions split
    * across the two sides). */
  def resolveAgainst(index: DataFrame, arrivals: DataFrame,
                     idCol: String, keyCol: String, nameCol: String,
                     blockCols: Seq[String], tau: Int = 1,
                     keep: Seq[String] = Nil): DataFrame = {
    val keyed = arrivals.where(col(keyCol).isNotNull)
      .select((col(idCol) +: (blockCols ++ keep).distinct.map(col)) ++ Seq(
        col(nameCol),
        explode(hashedKeys(
          PlanHints.knownNotNull(col(keyCol)),
          math.min(math.max(tau, 1), 2))).as("__bk")): _*)
    val probed = keyed.join(index, blockCols :+ "__bk", "left")
      .withColumn("__hit",
        when(levenshtein(col(nameCol), col("__arch_name")) <= tau,
          col("__arch_entity")))
      .groupBy(col(idCol) +: keep.map(col): _*)
      .agg(min(col("__hit")).as("__m"))
      .withColumn("entity",
        coalesce(col("__m"), col(idCol).cast("long")))
      .drop("__m")
    // null-key arrivals can't probe the index but must still appear
    // in the output as their own entity — the batch resolve()
    // contract (its left join + coalesce path labels them id), via a
    // stateless filter+project union.
    val nullKey = arrivals.where(col(keyCol).isNull)
      .select((col(idCol) +: keep.map(col)) :+
        col(idCol).cast("long").as("entity"): _*)
    probed.unionByName(nullKey)
  }

  /** SPLIT steady-state index for τ = 2 — the thin form: one row per
    * (record, D≤1 deletion hash ∪ position-pair tag hash) carrying
    * ONLY (block columns, hash, record id); names live once per
    * record in [[archiveRecords]] and the probe fetches them per
    * candidate. What this buys, measured honestly: the RUNTIME row
    * bytes — what the index probe join shuffles and holds in
    * its hash table — drop >40% vs [[archiveIndex]](k = 2), whose
    * every neighborhood row carries the full name string
    * (EntitySpec's UnsafeRow measurement). Parquet-on-disk is
    * roughly a wash: dictionary encoding stores each repeated name
    * once either way, and on LOW-entropy keys the full form can even
    * win rows (D≤2 variants deduplicate, the C(L,2) tags by
    * construction cannot — distinct (i, j) hash apart). Every match
    * — tag matches included — still passes the same lev ≤ τ NAME
    * verify as the batch [[resolve]] (tag collisions are hamming-≤2
    * KEY pairs by construction, but the batch contract verifies
    * names, and key-closeness does not bound name distance in
    * general). Recall contract: arrival D≤2+tags ⋈ archive D≤1+tags
    * is exactly [[candidatePairsSplit2]]'s split, so lev ≤ 2
    * arrival-archive pairs always share a hash — and the candidate
    * set matches the BATCH blocking more tightly than
    * archiveIndex(k = 2) does (D≤2 ⋈ D≤2 admits key pairs up to
    * lev 4 that the name verify must then reject). */
  def archiveIndexSplit2(resolved: DataFrame, idCol: String,
                         keyCol: String,
                         blockCols: Seq[String]): DataFrame =
    resolved.where(col(keyCol).isNotNull)
      .select(blockCols.map(col) ++ Seq(
        explode(EntityKeyExpressions.keyHashesCol(
          PlanHints.knownNotNull(col(keyCol)),
          EntityKeyFns.Index2)).as("__bk"),
        col(idCol).cast("long").as("__arch_rid")): _*)

  /** The per-record companion of [[archiveIndexSplit2]]: one row per
    * archive record — (record id, name, entity). O(n), the small
    * side; candidates join it to fetch the verify name and label. */
  def archiveRecords(resolved: DataFrame, idCol: String,
                     nameCol: String): DataFrame =
    resolved.select(col(idCol).cast("long").as("__arch_rid"),
      col(nameCol).as("__arch_name"), col("entity").as("__arch_entity"))

  /** τ = 2 steady state over the split index: arrivals explode at
    * D≤2+tags (the probe role), left-join the thin
    * [[archiveIndexSplit2]] on (blocks, hash), fetch (name, entity)
    * from [[archiveRecords]], verify lev ≤ τ on names, and take the
    * minimum verified archive entity — else the arrival's own id.
    * Same batch-split-invariance contract as [[resolveAgainst]]
    * (each arrival's label depends on itself and the static frames
    * alone): two left joins against the static frames + one keyed
    * aggregate + the stateless null-key union. */
  def resolveAgainstSplit2(index: DataFrame, records: DataFrame,
                           arrivals: DataFrame, idCol: String,
                           keyCol: String, nameCol: String,
                           blockCols: Seq[String], tau: Int = 2,
                           keep: Seq[String] = Nil): DataFrame = {
    val keyed = arrivals.where(col(keyCol).isNotNull)
      .select((col(idCol) +: (blockCols ++ keep).distinct.map(col)) ++ Seq(
        col(nameCol),
        explode(EntityKeyExpressions.keyHashesCol(
          PlanHints.knownNotNull(col(keyCol)),
          EntityKeyFns.Probe2)).as("__bk")): _*)
    val probed = keyed.join(index, blockCols :+ "__bk", "left")
      .join(records, Seq("__arch_rid"), "left")
      .withColumn("__hit",
        when(levenshtein(col(nameCol), col("__arch_name")) <= tau,
          col("__arch_entity")))
      .groupBy(col(idCol) +: keep.map(col): _*)
      .agg(min(col("__hit")).as("__m"))
      .withColumn("entity",
        coalesce(col("__m"), col(idCol).cast("long")))
      .drop("__m")
    val nullKey = arrivals.where(col(keyCol).isNull)
      .select((col(idCol) +: keep.map(col)) :+
        col(idCol).cast("long").as("entity"): _*)
    probed.unionByName(nullKey)
  }
}
