package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Dsir, Layout, NgramLm, Sampling, TextAnalysis}
import QueryKit._

/** The q_sample_*, q_pack_*, q_mix_* and q_shard_* oracle queries:
  * sampling, mixture allocation, sequence packing and sharding. */
object SamplingQueries {

  /** Leakage-safe group-aware train/val/test split
    * ([[graft.ops.Sampling.groupSplit]]): the split is a hash draw on
    * the dedup CLUSTER id, so near-duplicates can never straddle
    * train and test. The oracle replays the closure + the identical
    * draw; the straddle probe (clusters seeing > 1 split) is pinned
    * at 0 and per-split memberships by id checksum. */
  private val sampleGroupSplit = Q("q_sample_groupsplit",
    (s, d) => {
      val cl = Dedup.minhashClusters(docs(s, d), "text", "doc_id",
        maxBucket = MinhashCap)
      // deliberately UNPINNED (r14 optimization round): the split
      // frame's two consumers re-join the id snapshot against the
      // ALREADY-MATERIALIZED closure map — a pin measured neutral
      // (2.76 vs 2.70 s isolated min-of-6 at sf0.1), so the barrier
      // buys nothing
      val sp = Sampling.groupSplit(cl, "cluster_id", 0.1, 0.1)
      val straddle = sp.groupBy("cluster_id")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_straddle"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("doc_id")).as("id_sum"))
        .crossJoin(straddle)
        .orderBy("split")
    },
    s"WITH RECURSIVE $closureCtes, " +
      "sp AS (SELECT node AS doc_id, cluster_id, " +
      s"CASE WHEN ${Sampling.HashFractionSql("cluster_id")} < 0.1 " +
      "THEN 'val' " +
      s"WHEN ${Sampling.HashFractionSql("cluster_id")} < 0.1 + 0.1 " +
      "THEN 'test' ELSE 'train' END AS split FROM comp) " +
      "SELECT split, count(*) AS n_docs, " +
      "count(DISTINCT cluster_id) AS n_clusters, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "(SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "FROM (SELECT cluster_id, count(DISTINCT split) AS ns FROM sp " +
      "GROUP BY cluster_id)) AS n_straddle " +
      "FROM sp GROUP BY split ORDER BY split")

  /** Sharded Bloom point-lookup index ([[graft.ops.Bloom.shardIndex]]
    * / [[graft.ops.Bloom.probeShards]]) — the equality-predicate
    * sibling of the parquet-footer min/max stats: "which of the
    * corpus's shards/files can contain key K" answered from a tiny
    * relational index table instead of a scan. Shards are the
    * rendezvous assignment (the layout the engine already ships);
    * probes are a planted present set (every one MUST hit its true
    * shard — the zero-false-negative contract, pinned as n_missed=0)
    * and an offset absent set (only false positives — the measured
    * pruning rate). Both the index build (explode + bit_or onto the
    * shards × words grain) and the probe (one join + keyed count
    * equality) are fully relational — the oracle reproduces the
    * exact bits, candidates, and the one IEEE fp-rate division. */
  private val BloomIdxM = 8192
  private val BloomIdxK = 5
  private val BloomIdxShards = 12
  private val shardBloomIndex = Q("q_shard_bloomindex",
    (s, d) => {
      val dd = docs(s, d).select(col("doc_id"))
      val sharded = dd.withColumn("shard",
        graft.ops.Layout.rendezvousShard(col("doc_id"), BloomIdxShards))
      val index = graft.ops.Bloom.shardIndex(sharded, "shard", "doc_id",
        BloomIdxM, BloomIdxK)
      val present = dd.where(col("doc_id") % 17 === 3)
        .select(col("doc_id").as("k"))
      val probes = present.withColumn("cls", lit("present"))
        .unionByName(present.select(
          (col("k") + lit(1000000000000L)).as("k"),
          lit("absent").as("cls")))
      val cand = graft.ops.Bloom.probeShards(index,
          probes.select(col("k")), "k", BloomIdxM, BloomIdxK)
        .join(probes, col("key") === col("k"))
        .select(col("key"), col("shard"), col("cls"))
      val truth = sharded.join(present, col("doc_id") === col("k"))
        .select(col("doc_id").as("tk"), col("shard").as("tshard"))
      val agg = probes.groupBy("cls").agg(count(lit(1)).as("n_probes"))
      val ca = cand.groupBy("cls").agg(count(lit(1)).as("n_cand"))
      val tj = cand.join(truth,
          col("key") === col("tk") && col("shard") === col("tshard"))
        .groupBy("cls").agg(count(lit(1)).as("n_true"))
      val tt = truth.agg(count(lit(1)).as("n_truth"))
        .withColumn("cls", lit("present"))
      agg.join(ca, Seq("cls"), "left").join(tj, Seq("cls"), "left")
        .join(tt, Seq("cls"), "left")
        .select(col("cls"), col("n_probes"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand_pairs"),
          coalesce(col("n_true"), lit(0L)).as("n_true_pairs"),
          (coalesce(col("n_truth"), lit(0L)) -
            coalesce(col("n_true"), lit(0L))).as("n_missed"),
          ((coalesce(col("n_cand"), lit(0L)) -
            coalesce(col("n_true"), lit(0L))).cast("double") /
            (col("n_probes") * lit(BloomIdxShards.toLong) -
              coalesce(col("n_true"), lit(0L))).cast("double"))
            .as("fp_rate"))
        .orderBy("cls")
    }, {
      val m = BloomIdxM
      def probes(k: String) = (0 until BloomIdxK).map(j =>
        s"(($k % $m) + $j * (1 + $k % ${m - 1})) % $m").mkString(", ")
      val scores = graft.ops.Layout.RendezvousScoresSql("doc_id",
        BloomIdxShards)
      s"WITH sh AS MATERIALIZED (SELECT doc_id, " +
        "CAST(list_position(l, list_aggregate(l, 'max')) - 1 AS INT) " +
        s"AS shard FROM (SELECT doc_id, $scores AS l FROM " +
        "(SELECT doc_id FROM documents))), " +
        "pos AS (SELECT shard, " +
        s"unnest([${probes("doc_id")}]) AS p FROM sh), " +
        "idx AS MATERIALIZED (SELECT shard, p // 60 AS w, " +
        "bit_or(CAST(pow(2, p % 60) AS BIGINT)) AS word FROM pos " +
        "GROUP BY shard, p // 60), " +
        "pr AS MATERIALIZED (SELECT doc_id AS k, 'present' AS cls " +
        "FROM documents WHERE doc_id % 17 = 3 " +
        "UNION ALL SELECT doc_id + 1000000000000, 'absent' " +
        "FROM documents WHERE doc_id % 17 = 3), " +
        s"pp AS (SELECT k, cls, " +
        s"unnest(list_distinct([${probes("k")}])) AS p FROM pr), " +
        "pn AS (SELECT k, count(DISTINCT p) AS np FROM pp GROUP BY k), " +
        "hit AS (SELECT pp.k, pp.cls, idx.shard, " +
        "count(DISTINCT pp.p) AS nh FROM pp JOIN idx " +
        "ON idx.w = pp.p // 60 " +
        "AND (idx.word & CAST(pow(2, pp.p % 60) AS BIGINT)) <> 0 " +
        "GROUP BY pp.k, pp.cls, idx.shard), " +
        "cand AS MATERIALIZED (SELECT hit.k, hit.cls, hit.shard " +
        "FROM hit JOIN pn ON pn.k = hit.k AND hit.nh = pn.np), " +
        "tr AS MATERIALIZED (SELECT sh.doc_id AS tk, sh.shard AS tshard " +
        "FROM sh WHERE sh.doc_id % 17 = 3), " +
        "agg AS (SELECT cls, count(*) AS n_probes FROM pr GROUP BY cls), " +
        "ca AS (SELECT cls, count(*) AS n_cand FROM cand GROUP BY cls), " +
        "tj AS (SELECT c.cls, count(*) AS n_true FROM cand c " +
        "JOIN tr ON tr.tk = c.k AND tr.tshard = c.shard GROUP BY c.cls), " +
        "tt AS (SELECT 'present' AS cls, count(*) AS n_truth FROM tr) " +
        "SELECT agg.cls, agg.n_probes, " +
        "coalesce(ca.n_cand, 0) AS n_cand_pairs, " +
        "coalesce(tj.n_true, 0) AS n_true_pairs, " +
        "coalesce(tt.n_truth, 0) - coalesce(tj.n_true, 0) AS n_missed, " +
        "CAST(coalesce(ca.n_cand, 0) - coalesce(tj.n_true, 0) AS DOUBLE) " +
        s"/ CAST(agg.n_probes * $BloomIdxShards - " +
        "coalesce(tj.n_true, 0) AS DOUBLE) AS fp_rate " +
        "FROM agg LEFT JOIN ca USING (cls) LEFT JOIN tj USING (cls) " +
        "LEFT JOIN tt USING (cls) ORDER BY cls"
    })

  /** Cross-document duplicated-n-gram rate (Lee et al. 2022 signal):
    * per-source average share of a doc's distinct trigrams occurring
    * in ≥ 2 docs, and the count of dup-heavy (≥ 0.5) docs. */
  /** Fill-in-middle transformation (Bavarian et al. 2022): docs
    * reorder to the PSM layout — `<PRE> prefix <SUF> suffix <MID>
    * middle` — so an autoregressive model learns infilling; the two
    * split points are salted hash draws on the doc id (deterministic,
    * replayable, independent of every other sampler's draws). Docs
    * under 4 tokens pass through untransformed. Pure per-row map —
    * no shuffle; the transformed-text checksum pins the
    * exact token layout of every emitted doc cross-engine. */
  private val packFim = Q("q_pack_fim",
    (s, d) => {
      val ws = TextAnalysis.tokens(col("text"))
      val n = size(ws)
      def draw(salt: String) =
        (pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit(salt))), (n - 1).cast("long"))
          + lit(1L)).cast("int")
      val d1 = draw("#fim1"); val d2 = draw("#fim2")
      val lo = least(d1, d2); val hi = greatest(d1, d2)
      // slice(arr, start1based, len)
      val pre = slice(ws, lit(1), lo)
      val mid = slice(ws, lo + 1, hi - lo)
      val suf = slice(ws, hi + 1, n - hi)
      val fim = concat_ws(" ", lit("<PRE>"), array_join(pre, " "),
        lit("<SUF>"), array_join(suf, " "),
        lit("<MID>"), array_join(mid, " "))
      docs(s, d)
        .select(col("source"), col("doc_id"), n.as("n"),
          when(n >= 4, fim).otherwise(col("text")).as("t"),
          when(n >= 4, hi - lo).otherwise(lit(0)).cast("long").as("midlen"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") >= 4, 1L).otherwise(0L)).as("n_fim"),
          sum(col("midlen")).as("mid_toks"),
          sum(TextAnalysis.tokenHash(col("t")) % lit(CleanSumMod))
            .as("fim_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS ws, " +
      "text, len(string_split(text, ' ')) AS n FROM documents), " +
      "sp AS (SELECT source, doc_id, ws, text, n, " +
      s"CAST(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#fim1'")} % (n - 1) + 1 AS INT) " +
      "AS d1, " +
      s"CAST(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#fim2'")} % (n - 1) + 1 AS INT) " +
      "AS d2 FROM t WHERE n >= 4), " +
      "f AS (SELECT source, doc_id, n, " +
      "least(d1, d2) AS lo, greatest(d1, d2) AS hi, " +
      // DuckDB returns NULL (not []) for an inverted-bound slice, so
      // the empty-middle case needs coalesce to match Spark's ""
      "'<PRE> ' || coalesce(array_to_string(ws[1:least(d1, d2)], ' '), '') || " +
      "' <SUF> ' || coalesce(array_to_string(ws[greatest(d1, d2)+1:n], ' '), '') || " +
      "' <MID> ' || coalesce(array_to_string(ws[least(d1, d2)+1:greatest(d1, d2)], ' '), '') " +
      "AS fim FROM sp), " +
      "u AS (SELECT source, n, hi - lo AS midlen, fim AS t2 FROM f " +
      "UNION ALL SELECT source, n, 0 AS midlen, text AS t2 FROM t " +
      "WHERE n < 4) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN n >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_fim, " +
      "CAST(sum(midlen) AS BIGINT) AS mid_toks, " +
      s"CAST(sum(${TextAnalysis.TokenHashSql("t2")} % $CleanSumMod) " +
      "AS BIGINT) AS fim_sum " +
      "FROM u GROUP BY source ORDER BY source")

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): each FULL
    * [[ScB]]-token block loses one [[ScL]]-token span at a salted-
    * hash offset — the span's first position becomes the block's
    * sentinel `<Xb>`, the rest drop; the target is the sentinel-
    * prefixed span contents in block order. One span per full block
    * keeps spans non-overlapping and fully in range BY CONSTRUCTION
    * (no cross-engine slice-edge cases); the trailing partial block
    * is never corrupted. Pure per-row map; input and
    * target checksums pin both emitted strings exactly. */
  private val ScB = 20
  private val ScL = 3
  private val ScOffMod = ScB - ScL + 1
  private val packSpanCorrupt = Q("q_pack_spancorrupt",
    (s, d) => {
      val ws = TextAnalysis.tokens(col("text"))
      val n = size(ws)
      val nfull = (n / ScB).cast("int")
      def blockOf(i: org.apache.spark.sql.Column) = ((i - 1) / ScB).cast("long")
      def offOf(b: org.apache.spark.sql.Column) = pmod(TextAnalysis.tokenHash(
        concat(col("doc_id").cast("string"), lit("#sc#"),
          b.cast("string"))), lit(ScOffMod.toLong)).cast("int")
      val inputArr = transform(sequence(lit(1), n), i => {
        val b = blockOf(i)
        val off = offOf(b)
        val pos = (i - 1) % ScB
        when(b < nfull && pos === off,
          concat(lit("<X"), b.cast("string"), lit(">")))
          .when(b < nfull && pos > off && pos < off + ScL, lit(""))
          .otherwise(element_at(ws, i))
      })
      val input = array_join(filter(inputArr, x => x =!= ""), " ")
      val targetArr = transform(sequence(lit(0), nfull - 1), b => {
        val off = offOf(b.cast("long"))
        concat(lit("<X"), b.cast("string"), lit("> "),
          array_join(slice(ws, b * ScB + off + 1, lit(ScL)), " "))
      })
      val target = array_join(targetArr, " ")
      docs(s, d)
        .select(col("source"), col("doc_id"), nfull.as("nf"),
          when(nfull >= 1, input).otherwise(col("text")).as("inp"),
          when(nfull >= 1, target).otherwise(lit("")).as("tgt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nf") >= 1, 1L).otherwise(0L)).as("n_corrupted"),
          sum(col("nf").cast("long") * ScL).as("masked_toks"),
          sum(TextAnalysis.tokenHash(col("inp")) % lit(CleanSumMod))
            .as("input_sum"),
          sum(TextAnalysis.tokenHash(col("tgt")) % lit(CleanSumMod))
            .as("target_sum"))
        .orderBy("source")
    }, {
      val offSql = s"(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#sc#' || CAST((i-1)//" + ScB +
          " AS VARCHAR)")} % $ScOffMod)"
      val offBSql = s"(${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#sc#' || CAST(b AS VARCHAR)")} " +
        s"% $ScOffMod)"
      "WITH t AS (SELECT source, doc_id, text, " +
        "string_split(text, ' ') AS ws, " +
        "len(string_split(text, ' ')) AS n, " +
        s"len(string_split(text, ' ')) // $ScB AS nfull " +
        "FROM documents), " +
        "c AS (SELECT source, doc_id, nfull, " +
        "CASE WHEN nfull >= 1 THEN array_to_string(list_filter(" +
        s"[CASE WHEN (i-1)//$ScB < nfull AND (i-1)%$ScB = $offSql " +
        s"THEN '<X' || CAST((i-1)//$ScB AS VARCHAR) || '>' " +
        s"WHEN (i-1)//$ScB < nfull AND (i-1)%$ScB > $offSql " +
        s"AND (i-1)%$ScB < $offSql + $ScL THEN '' " +
        "ELSE ws[i] END for i in generate_series(1, n)], " +
        "x -> x <> ''), ' ') ELSE text END AS inp, " +
        "CASE WHEN nfull >= 1 THEN array_to_string(" +
        "['<X' || CAST(b AS VARCHAR) || '> ' || " +
        s"array_to_string(ws[b*$ScB+$offBSql+1:b*$ScB+$offBSql+$ScL], " +
        "' ') for b in generate_series(0, nfull - 1)], ' ') " +
        "ELSE '' END AS tgt " +
        "FROM t) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN nfull >= 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_corrupted, " +
        s"CAST(sum(nfull * $ScL) AS BIGINT) AS masked_toks, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("inp")} % $CleanSumMod) " +
        "AS BIGINT) AS input_sum, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("tgt")} % $CleanSumMod) " +
        "AS BIGINT) AS target_sum " +
        "FROM c GROUP BY source ORDER BY source"
    })

  /** Chat-template rendering with loss masks (the SFT layout step):
    * each doc becomes a deterministic multi-turn conversation — a
    * salted hash on the doc id picks 2 or 4 turns, token boundaries
    * fall at floor(i·n/T), turns alternate `<|user|>`/`<|assistant|>`
    * markers, and the doc closes with `<|eos|>`. The loss mask counts
    * assistant-turn tokens only (the spans a trainer backpropagates
    * through). Docs under 4 tokens render as a single unmasked user
    * turn. Pure per-row map — no shuffle; the rendered-
    * text checksum pins the exact byte layout of every conversation
    * cross-engine, and masked_toks pins the mask geometry. */
  private val packChat = Q("q_pack_chat",
    (s, d) => {
      val ch = Sampling.chatTemplate(col("text"), col("doc_id"))
      docs(s, d)
        .select(col("source"), ch.getField("t").as("t"),
          ch.getField("masked").as("masked"),
          ch.getField("rendered").as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("t") > 1, 1L).otherwise(0L)).as("n_multi"),
          sum(col("t").cast("long")).as("n_turns"),
          sum(col("masked")).as("masked_toks"),
          sum(TextAnalysis.tokenHash(col("r")) % lit(CleanSumMod))
            .as("chat_sum"))
        .orderBy("source")
    }, {
      val tSql = s"CASE WHEN n >= 4 THEN 2 * (${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#chat'")} % 2 + 1) ELSE 1 END"
      "WITH t0 AS (SELECT source, doc_id, " +
        "string_split(text, ' ') AS ws, " +
        "len(string_split(text, ' ')) AS n FROM documents), " +
        s"t AS (SELECT source, ws, n, $tSql AS tt FROM t0), " +
        "c AS (SELECT source, tt, " +
        "array_to_string([CASE WHEN i % 2 = 0 THEN '<|user|>' " +
        "ELSE '<|assistant|>' END || ' ' || " +
        "coalesce(array_to_string(ws[(i*n)//tt+1:((i+1)*n)//tt], ' '), '') " +
        "for i in generate_series(0, tt - 1)], ' ') || ' <|eos|>' AS r, " +
        "coalesce(list_sum([((i+1)*n)//tt - (i*n)//tt " +
        "for i in generate_series(1, tt - 1, 2)]), 0) AS masked " +
        "FROM t) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN tt > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_multi, " +
        "CAST(sum(tt) AS BIGINT) AS n_turns, " +
        "CAST(sum(masked) AS BIGINT) AS masked_toks, " +
        s"CAST(sum(${TextAnalysis.TokenHashSql("r")} % $CleanSumMod) " +
        "AS BIGINT) AS chat_sum " +
        "FROM c GROUP BY source ORDER BY source"
    })

  /** Preference-pair construction (the DPO/RLHF data-prep step):
    * within each (source, hash-bucket) the docs rank by an INTEGER
    * quality proxy (distinct-token count, doc_id tiebreak — exact
    * cross-engine, no float ordering hazard) and rank i pairs with
    * rank m+1−i: chosen = the higher-quality doc, rejected = the
    * lower, prompt = the chosen doc's first 8 tokens. The middle doc
    * of an odd bucket stays unpaired. Scale shape: the window and the
    * pair-merge both run on (source, bucket) — bucket count is the
    * parallelism knob, sized to the corpus like nShards — and ONLY
    * (source, bucket, id, q, two 40-bit digests) ever shuffle; texts
    * and prompts hash PRE-shuffle, so pairing two docs never moves
    * their bytes. Margin sum is an exact integer; the three digests
    * pin pair membership and orientation. */
  private val DpoB = 8L
  private val packDpo = Q("q_pack_dpo",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ws = TextAnalysis.tokens(col("text"))
      val t0 = docs(s, d).select(col("source"), col("doc_id"),
        size(array_distinct(ws)).as("q"),
        (TextAnalysis.tokenHash(col("text")) % lit(DigestMod)).as("h_text"),
        (TextAnalysis.tokenHash(array_join(slice(ws, 1, 8), " "))
          % lit(DigestMod)).as("h_prompt"),
        pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#dpo"))), lit(DpoB))
          .as("b"))
      val w = Window.partitionBy("source", "b")
      val rnk = row_number().over(
        w.orderBy(col("q").desc, col("doc_id").asc))
      val m = count(lit(1)).over(w)
      val ranked = t0.select(col("source"), col("b"), col("q"),
          col("h_text"), col("h_prompt"), rnk.as("rnk"), m.as("m"))
        .where(col("rnk") * 2 =!= col("m") + 1)
      val chosen = col("rnk") * 2 < col("m") + 1
      ranked.groupBy(col("source"), col("b"),
          least(col("rnk"), col("m") + 1 - col("rnk")).as("pid"))
        .agg(max(when(chosen, col("q"))).as("qc"),
          max(when(!chosen, col("q"))).as("qr"),
          max(when(chosen, col("h_text"))).as("hc"),
          max(when(!chosen, col("h_text"))).as("hr"),
          max(when(chosen, col("h_prompt"))).as("hp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("qc") - col("qr")).as("margin_sum"),
          sum(col("hc")).as("chosen_sum"),
          sum(col("hr")).as("rejected_sum"),
          sum(col("hp")).as("prompt_sum"))
        .orderBy("source")
    },
    "WITH t AS (SELECT source, doc_id, " +
      "len(list_distinct(string_split(text, ' '))) AS q, " +
      s"${TextAnalysis.TokenHashSql("text")} % $DigestMod AS h_text, " +
      s"${TextAnalysis.TokenHashSql(
        "array_to_string(string_split(text, ' ')[1:8], ' ')")} " +
      s"% $DigestMod AS h_prompt, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#dpo'")} % $DpoB AS b " +
      "FROM documents), " +
      "w AS (SELECT *, row_number() OVER (PARTITION BY source, b " +
      "ORDER BY q DESC, doc_id ASC) AS rnk, " +
      "count(*) OVER (PARTITION BY source, b) AS m FROM t), " +
      "p AS (SELECT source, b, least(rnk, m + 1 - rnk) AS pid, " +
      "max(CASE WHEN rnk * 2 < m + 1 THEN q END) AS qc, " +
      "max(CASE WHEN rnk * 2 > m + 1 THEN q END) AS qr, " +
      "max(CASE WHEN rnk * 2 < m + 1 THEN h_text END) AS hc, " +
      "max(CASE WHEN rnk * 2 > m + 1 THEN h_text END) AS hr, " +
      "max(CASE WHEN rnk * 2 < m + 1 THEN h_prompt END) AS hp " +
      "FROM w WHERE rnk * 2 <> m + 1 GROUP BY source, b, pid) " +
      "SELECT source, count(*) AS n_pairs, " +
      "CAST(sum(qc - qr) AS BIGINT) AS margin_sum, " +
      "CAST(sum(hc) AS BIGINT) AS chosen_sum, " +
      "CAST(sum(hr) AS BIGINT) AS rejected_sum, " +
      "CAST(sum(hp) AS BIGINT) AS prompt_sum " +
      "FROM p GROUP BY source ORDER BY source")

  /** Decontaminated eval split: hold out the top hash-fraction decile
    * as eval CANDIDATES, then keep only candidates sharing NO 5-gram
    * fingerprint with the train side — the contamination-safe
    * held-out set (the q_text_contamination concern, applied at
    * split time instead of audit time). Scale shape: fingerprints
    * aggregate once to the distinct-fp grain; the leak check is a
    * semi-join and the safe set an anti-join, both on post-agg 45-bit
    * keys; sub-5-token docs carry no fingerprints and are safe by
    * definition on both engines. */
  private val EvalFrac = 0.9
  private val sampleEvalsafe = Q("q_sample_evalsafe",
    (s, d) => {
      val d0 = docs(s, d)
      val isEval = Sampling.hashFraction(col("doc_id")) >= EvalFrac
      val fps = d0.select(col("doc_id"), isEval.as("ev"),
        explode(graft.ops.TextHashExpressions
          .ngramFps(col("text"), CrossN)).as("g"))
      val trainFps = fps.where(!col("ev")).select("g").distinct()
      val leaky = fps.where(col("ev"))
        .join(trainFps, Seq("g"), "left_semi")
        .select("doc_id").distinct()
      val evalDocs = d0.where(isEval).select("doc_id", "source")
      val safe = evalDocs.join(leaky, Seq("doc_id"), "left_anti")
      evalDocs.groupBy("source").agg(count(lit(1)).as("n_eval"))
        .join(safe.groupBy("source").agg(count(lit(1)).as("n_safe"),
          sum(pmod(col("doc_id"), lit(CleanSumMod))).as("safe_digest")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_safe", "safe_digest"))
        .select(col("source"), col("n_eval"),
          (col("n_eval") - col("n_safe")).as("n_leaky"),
          col("n_safe"), col("safe_digest"))
        .orderBy("source")
    }, {
      val M = Dedup.NgramFpMod
      val chain = (1 until CrossN).foldLeft("hl[i]") { (acc, k) =>
        s"($acc * 31 + hl[i+$k]) % $M"
      }
      s"WITH t AS (SELECT doc_id, source, " +
        s"(${Sampling.HashFractionSql("doc_id")} >= $EvalFrac) AS ev, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"fps AS (SELECT doc_id, ev, unnest(list_distinct([$chain " +
        s"for i in range(1, len(hl) - ${CrossN - 2})])) AS g FROM t), " +
        "tr AS (SELECT DISTINCT g FROM fps WHERE NOT ev), " +
        "lk AS (SELECT DISTINCT doc_id FROM fps WHERE ev " +
        "AND g IN (SELECT g FROM tr)), " +
        "ed AS (SELECT doc_id, source FROM t WHERE ev), " +
        "safe AS (SELECT ed.doc_id, ed.source FROM ed " +
        "WHERE ed.doc_id NOT IN (SELECT doc_id FROM lk)), " +
        "se AS (SELECT source, count(*) AS n_safe, " +
        s"CAST(sum(doc_id % $CleanSumMod) AS BIGINT) AS safe_digest " +
        "FROM safe GROUP BY source) " +
        "SELECT ed.source, count(*) AS n_eval, " +
        "count(*) - COALESCE(max(se.n_safe), 0) AS n_leaky, " +
        "COALESCE(max(se.n_safe), 0) AS n_safe, " +
        "COALESCE(max(se.safe_digest), 0) AS safe_digest " +
        "FROM ed LEFT JOIN se USING (source) " +
        "GROUP BY ed.source ORDER BY ed.source"
    })

  /** Per-source keep rates for the stratified-sample oracle (domain
    * re-weighting: upsample some sources, downsample others). */
  private val SampleRates =
    Seq("src0" -> 0.1, "src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.75)
  private val SampleDefault = 0.4

  /** Deterministic hash-threshold stratified sampling: membership is a
    * pure function of doc_id, so the id-sum checksum pins the EXACT
    * kept set, not just its size. */
  private val sampleStratified = Q("q_sample_stratified",
    (s, d) => Sampling.stratifiedSample(docs(s, d), "doc_id", "source",
        SampleRates.toMap, SampleDefault)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("source"),
    {
      val cases = SampleRates.map { case (g, r) => s"WHEN '$g' THEN $r" }
        .mkString(" ")
      "SELECT source, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM documents " +
        s"WHERE ${Sampling.HashFractionSql("doc_id")} < " +
        s"CASE source $cases ELSE $SampleDefault END " +
        "GROUP BY source ORDER BY source"
    })

  /** Temperature-flattened domain mixture toward a fixed row budget:
    * per-source kept counts, id checksum, and the derived rate. */
  private val TempAlpha = 0.5
  private val TempTarget = 200.0
  private val sampleTemperature = Q("q_sample_temperature",
    (s, d) => Sampling.temperatureSample(docs(s, d), "doc_id", "source",
        TempAlpha, TempTarget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
        round(min(col("sample_rate")), 5).as("rate"))
      .orderBy("source"),
    "WITH c AS (SELECT source, count(*) AS n FROM documents " +
      "GROUP BY source), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c), " +
      "w AS (SELECT source, n, pow(CAST(n AS DOUBLE) / " +
      s"CAST(tot AS DOUBLE), $TempAlpha) AS w FROM c CROSS JOIN t), " +
      "sw AS (SELECT sum(w) AS sw FROM w), " +
      "r AS (SELECT source, least(1.0, " +
      s"$TempTarget * (w / sw) / CAST(n AS DOUBLE)) AS rate " +
      "FROM w CROSS JOIN sw), " +
      "kept AS (SELECT d.source, d.doc_id, r.rate FROM documents d " +
      "JOIN r USING (source) " +
      s"WHERE ${Sampling.HashFractionSql("d.doc_id")} < r.rate) " +
      "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "round(min(rate), 5) AS rate FROM kept " +
      "GROUP BY source ORDER BY source")

  /** Epoch factors for the repeat mix: >1 (integer + fractional part),
    * <1 (pure down-sample), exactly 1, and a fractional default. */
  private val RepFactors = Map("src0" -> 2.4, "src1" -> 0.35,
    "src17" -> 3.0, "src5" -> 1.0)
  private val RepDefault = 1.25

  /** Repeat-factor (epoch) mixing: each source's docs emitted ⌊f⌋ or
    * ⌈f⌉ times (salted-hash fractional draw), with an `epoch` index
    * per copy — the LLaMA-style "fractional epochs per source" mix
    * stage. The checksum Σ id·(epoch+1) pins the exact multiset of
    * emitted (doc, epoch) pairs cross-engine; max_epoch pins the
    * fan-out bound per source. */
  private val sampleRepeat = Q("q_sample_repeat",
    (s, d) => Sampling.repeatFactorSample(docs(s, d), "doc_id", "source",
        RepFactors, RepDefault)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("doc_id") * (col("epoch") + lit(1L))).as("checksum"),
        max(col("epoch")).as("max_epoch"))
      .orderBy("source"),
    "WITH f AS (SELECT doc_id, source, CASE " +
      RepFactors.map { case (g, r) =>
        s"WHEN source = '$g' THEN CAST($r AS DOUBLE) " }.mkString +
      s"ELSE CAST($RepDefault AS DOUBLE) END AS f FROM documents), " +
      "n AS (SELECT doc_id, source, CAST(floor(f) AS BIGINT) + " +
      s"(CASE WHEN ${Sampling.RepeatDrawSql("doc_id")} < f - floor(f) " +
      "THEN 1 ELSE 0 END) AS n FROM f), " +
      "e AS (SELECT doc_id, source, unnest(range(0, n)) AS epoch " +
      "FROM n WHERE n >= 1) " +
      "SELECT source, count(*) AS n_rows, " +
      "count(DISTINCT doc_id) AS n_docs, " +
      "CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS checksum, " +
      "CAST(max(epoch) AS BIGINT) AS max_epoch " +
      "FROM e GROUP BY source ORDER BY source")

  private val PackShards = 4

  /** Weighted sample without replacement (Efraimidis–Spirakis
    * exponential ranks over the deterministic hash draw): longer docs
    * proportionally likelier; exactly WeightedN rows, TakeOrdered
    * shape, engine-portable order key. */
  private val WeightedN = 60
  private val sampleWeighted = Q("q_sample_weighted",
    (s, d) => Sampling.sampleWeighted(docs(s, d), "doc_id",
      col("n_chars"), WeightedN).select("doc_id", "source", "n_chars"),
    "SELECT doc_id, source, n_chars FROM documents " +
      s"ORDER BY ${Sampling.WeightedKeySql("doc_id", "n_chars")}, doc_id " +
      s"LIMIT $WeightedN")

  /** DSIR importance resampling toward a target domain: hashed
    * unigram+bigram bucket distributions (one conditional aggregate,
    * ≤ 256 rows), per-doc log importance weight as a pure map over
    * the inlined log-ratio table, Gumbel top-n selection. The oracle
    * is an independent join-based formulation of the same
    * distributions; the selected per-source sets are pinned by
    * integer id/feature sums. */
  private val DsirN = 150
  private val DsirTarget = "src0"
  private val sampleDsir = Q("q_sample_dsir",
    (s, d) => {
      val d0 = docs(s, d)
      val ratios = Dsir.logRatios(d0, "text",
        col("source") === lit(DsirTarget))
      val w = Dsir.importanceWeights(d0, "text", ratios)
      Dsir.resample(w, "doc_id", DsirN)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sel"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_feats")).as("n_feats"),
          round(avg(col("log_w")), 5).as("avg_logw"))
        .orderBy("source")
    },
    s"WITH t AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      s"f0 AS (SELECT doc_id, source, ${Dsir.BucketListSql("hl")} AS bl " +
      "FROM t), " +
      "f AS (SELECT doc_id, source, unnest(bl) AS b FROM f0), " +
      "cnt AS (SELECT b, count(*) AS nr, sum(CASE WHEN source = " +
      s"'$DsirTarget' THEN 1 ELSE 0 END) AS nt FROM f GROUP BY b), " +
      "tot AS (SELECT sum(nr) AS rt, sum(nt) AS tt FROM cnt), " +
      s"dom AS (SELECT range AS b FROM range(0, ${Dsir.NumBuckets})), " +
      "delta AS (SELECT dom.b AS b, " +
      "ln((coalesce(cnt.nt, 0) + 1.0) / " +
      s"CAST(tot.tt + ${Dsir.NumBuckets} AS DOUBLE)) - " +
      "ln((coalesce(cnt.nr, 0) + 1.0) / " +
      s"CAST(tot.rt + ${Dsir.NumBuckets} AS DOUBLE)) AS dl " +
      "FROM dom LEFT JOIN cnt ON dom.b = cnt.b CROSS JOIN tot), " +
      "w AS (SELECT doc_id, any_value(source) AS source, " +
      "sum(dl) AS logw, count(*) AS nf FROM f JOIN delta USING (b) " +
      "GROUP BY doc_id), " +
      "sel AS (SELECT * FROM w ORDER BY " +
      s"${Dsir.ResampleKeySql("doc_id")} DESC, doc_id ASC " +
      s"LIMIT $DsirN) " +
      "SELECT source, count(*) AS n_sel, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "CAST(sum(nf) AS BIGINT) AS n_feats, " +
      "round(avg(logw), 5) AS avg_logw " +
      "FROM sel GROUP BY source ORDER BY source")

  /** Per-domain cap: at most DomainCap docs per source, each group's
    * smallest hash draws, selected by the bounded TopK aggregate
    * (O(cap) mergeable state per group — never a rank Window; the hot
    * domain is exactly the one being capped). The id-sum pins the
    * exact survivor set per source. */
  private val DomainCap = 25
  private val sampleDomainCap = Q("q_sample_domaincap",
    (s, d) => Sampling.domainCap(docs(s, d), "doc_id", "source", DomainCap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("source"),
    "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM (" +
      "SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
      s"ORDER BY ${Sampling.HashFractionSql("doc_id")} ASC, doc_id ASC) " +
      s"AS rk FROM documents) WHERE rk <= $DomainCap " +
      "GROUP BY source ORDER BY source")

  /** Top-quantile selection fully in-plan: the classifier score's
    * p75 comes from the portable histogram sketch (one partial-agg'd
    * pass, ≤ 64 rows), broadcasts back as a one-row frame, and the
    * filter keeps docs at or above it — "keep the best 25%" with no
    * driver round-trip, the same shape at any corpus size. Both
    * engines derive the identical interpolated threshold from
    * identical integer registers, so the kept set is exact. */
  private val sampleTopQuantile = Q("q_sample_topquantile",
    (s, d) => {
      // persisted (3 narrow columns, the winsorize/selectBudget
      // doctrine): the scored frame feeds BOTH the sketch pass and
      // the keep filter — unpersisted, the classifier chain runs
      // twice per row (PlanAudit r11)
      val scored = graft.core.CacheRegistry.track(
        graft.ops.QualityClassifier
        .withFeatures(docs(s, d), "text")
        .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
        .select("doc_id", "source", "score")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val qrow = graft.ops.Sketches.histogramQuantiles(scored,
        col("score"), lo = 0.0, hi = 1.0, nBuckets = 64, qs = Seq(0.75))
        .select("p75")
      scored.crossJoin(broadcast(qrow))
        .where(col("score") >= col("p75"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          round(avg(col("score")), 5).as("avg_score"),
          round(min(col("p75")), 5).as("p75"))
        .orderBy("source")
    },
    s"WITH sc AS (SELECT doc_id, source, " +
      s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
      "FROM documents), " +
      s"h AS (SELECT ${graft.ops.Sketches.BucketSql("score", 0.0, 1.0, 64)} " +
      "AS b FROM sc), " +
      "hist AS (SELECT b, count(*) AS cnt FROM h GROUP BY b), " +
      "c AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
      "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "sum(cnt) OVER () AS n FROM hist), " +
      s"q AS (SELECT ${graft.ops.Sketches.QuantileSql(0.75, 0.0, 1.0, 64)} " +
      "AS p75 FROM c) " +
      "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "round(avg(score), 5) AS avg_score, round(min(p75), 5) AS p75 " +
      "FROM sc CROSS JOIN q WHERE score >= p75 " +
      "GROUP BY source ORDER BY source")

  /** Per-domain top-quantile selection: each source keeps its own
    * best 25% by classifier score — the per-language/per-source
    * quality floor a multilingual pipeline needs (a global floor
    * over-prunes weak domains). Thresholds from the grouped histogram
    * sketch broadcast back; kept sets pinned by id sums. */
  private val sampleTopQuantileBy = Q("q_sample_topquantile_by",
    (s, d) => {
      // persisted for the same two-consumer reason as
      // q_sample_topquantile (grouped sketch + keep filter)
      val scored = graft.core.CacheRegistry.track(
        graft.ops.QualityClassifier
        .withFeatures(docs(s, d), "text")
        .withColumn("score", graft.ops.QualityClassifier.score(ClsWeights))
        .select("doc_id", "source", "score")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      Sampling.topQuantileByGroup(scored, "source", "score",
          q = 0.75, lo = 0.0, hi = 1.0, nBuckets = 64)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          round(avg(col("score")), 5).as("avg_score"),
          round(min(col("threshold")), 5).as("p75"))
        .orderBy("source")
    },
    {
      import graft.ops.Sketches.{BucketSql, QuantileSql}
      "WITH sc AS (SELECT doc_id, source, " +
        s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
        "FROM documents), " +
        s"h AS (SELECT source, ${BucketSql("score", 0.0, 1.0, 64)} " +
        "AS b FROM sc), " +
        "hist AS (SELECT source, b, count(*) AS cnt FROM h GROUP BY 1, 2), " +
        "c AS (SELECT source, b, cnt, sum(cnt) OVER (PARTITION BY source " +
        "ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum, sum(cnt) OVER (PARTITION BY source) AS n FROM hist), " +
        s"q AS (SELECT source, ${QuantileSql(0.75, 0.0, 1.0, 64)} " +
        "AS p75 FROM c GROUP BY source) " +
        "SELECT source, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
        "round(avg(score), 5) AS avg_score, round(min(p75), 5) AS p75 " +
        "FROM sc JOIN q USING (source) WHERE score >= p75 " +
        "GROUP BY source ORDER BY source"
    })

  /** Exact-n deterministic sample: the FixedN smallest hash draws.
    * Returns the rows themselves (ids + source) — membership is the
    * verified property; TakeOrderedAndProject is the verified shape. */
  private val FixedN = 100
  private val sampleFixedN = Q("q_sample_fixedn",
    (s, d) => Sampling.sampleFixedN(docs(s, d), "doc_id", FixedN)
      .select("doc_id", "source"),
    "SELECT doc_id, source FROM documents " +
      s"ORDER BY ${Sampling.HashFractionSql("doc_id")}, doc_id " +
      s"LIMIT $FixedN")

  /** Output-shard manifest — the "ship it to training" step: docs
    * assign to shards by the portable hash (deterministic, ingest-
    * stable), and each shard's manifest row carries count, char mass,
    * and a content checksum (Σ text-hash) that any engine can rebuild
    * to certify a delivered shard. One map-side-partial aggregate. */
  private val NShards = 8
  private val shardManifest = Q("q_shard_manifest",
    (s, d) => manifestOf(docs(s, d), NShards),
    manifestSql("documents", NShards))

  /** Contiguous-token sequence packing: per-shard window counts,
    * boundary-crossing docs, and the start-offset checksum (pins every
    * doc's position in its shard's token stream). */
  private val packSequences = Q("q_pack_sequences",
    (s, d) => Sampling.packSequences(docs(s, d), "doc_id", "text",
        PackWindow, PackShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        (max(col("last_window")) + 1).as("n_windows"),
        sum(col("n_tokens")).as("toks"),
        sum(when(col("crosses"), 1L).otherwise(0L)).as("n_crossing"),
        sum(col("start_off")).as("off_sum"))
      .orderBy("shard"),
    "WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt, " +
      s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
      s"% $PackShards AS shard FROM documents), " +
      "p AS (SELECT shard, nt, sum(nt) OVER (PARTITION BY shard " +
      "ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nt AS so FROM t) " +
      "SELECT shard, count(*) AS n_docs, " +
      s"CAST(max((so + nt - 1) // $PackWindow) + 1 AS BIGINT) AS n_windows, " +
      "CAST(sum(nt) AS BIGINT) AS toks, " +
      s"CAST(sum(CASE WHEN so // $PackWindow <> " +
      s"(so + nt - 1) // $PackWindow THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_crossing, CAST(sum(so) AS BIGINT) AS off_sum " +
      "FROM p GROUP BY shard ORDER BY shard")

  /** No-split greedy packing (SFT layout — docs never cross a
    * sequence boundary): per-shard bin counts, truncations, padding
    * waste, and a per-doc (id, bin) assignment checksum that only
    * matches if both engines walk every shard's greedy state machine
    * identically. The oracle replays the walk as a recursive CTE —
    * one row per (shard, step) — because greedy packing is
    * irreducibly sequential per shard; the Spark side runs the same
    * walk as a one-pass O(1)-state kernel per shard
    * ([[Sampling.packNoSplit]]). */
  private val packNoSplit = Q("q_pack_nosplit",
    (s, d) => Sampling.packNoSplit(docs(s, d), "doc_id", "text",
        PackWindow, PackShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        (max(col("bin")) + 1).as("n_bins"),
        sum(col("t")).as("toks"),
        sum(when(col("truncated"), 1L).otherwise(0L)).as("n_trunc"),
        ((max(col("bin")) + 1) * PackWindow - sum(col("t"))).as("waste"),
        sum((col("doc_id") % AssignMod * 31 + col("bin") % AssignMod)
          % AssignMod).as("assign_sum"))
      .orderBy("shard"),
    "WITH RECURSIVE t AS (SELECT doc_id, " +
      s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
      s"% $PackShards AS shard, " +
      "len(string_split(text, ' ')) AS nt FROM documents), " +
      s"r AS (SELECT doc_id, shard, nt, least(nt, $PackWindow) AS tt, " +
      "row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn " +
      "FROM t), " +
      "walk AS (" +
      "SELECT shard, rn, doc_id, nt, tt, CAST(0 AS BIGINT) AS bin, " +
      "tt AS fill FROM r WHERE rn = 1 " +
      "UNION ALL " +
      "SELECT r.shard, r.rn, r.doc_id, r.nt, r.tt, " +
      s"CASE WHEN w.fill + r.tt <= $PackWindow THEN w.bin " +
      "ELSE w.bin + 1 END, " +
      s"CASE WHEN w.fill + r.tt <= $PackWindow THEN w.fill + r.tt " +
      "ELSE r.tt END " +
      "FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1) " +
      "SELECT shard, count(*) AS n_docs, " +
      "CAST(max(bin) + 1 AS BIGINT) AS n_bins, " +
      "CAST(sum(tt) AS BIGINT) AS toks, " +
      s"CAST(sum(CASE WHEN nt > $PackWindow THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_trunc, " +
      s"CAST((max(bin) + 1) * $PackWindow - sum(tt) AS BIGINT) AS waste, " +
      s"CAST(sum((doc_id % $AssignMod * 31 + bin % $AssignMod) " +
      s"% $AssignMod) AS BIGINT) AS assign_sum " +
      "FROM walk GROUP BY shard ORDER BY shard")

  /** Length-bucketed dynamic batching: per-bucket batch counts and
    * the padding each batch actually pays (padded to its own max),
    * with a per-doc (id, slot) checksum pinning the complete batch
    * layout cross-engine. The fairseq/T5 batching layout — the
    * padding-waste ledger a training-efficiency pass reads. */
  private val LenG = 16
  private val LenB = 8
  private val packLenBatch = Q("q_pack_lenbatch",
    (s, d) => {
      val p = Sampling.lengthBucketBatches(docs(s, d), "doc_id", "text",
        LenG, LenB, PackShards)
      p.groupBy("shard", "bucket", "batch")
        .agg(count(lit(1)).as("cnt"),
          max(col("n_tokens")).as("mx"),
          sum(col("n_tokens")).as("sn"),
          sum((col("doc_id") % AssignMod * 31
            + col("batch") * LenB + col("pos")) % AssignMod).as("cks"))
        .groupBy("bucket")
        .agg(sum(col("cnt")).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("mx") * col("cnt") - col("sn")).as("sum_padding"),
          sum(col("cks")).as("assign_sum"))
        .orderBy("bucket")
    },
    "WITH t AS (SELECT doc_id, " +
      s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
      s"% $PackShards AS shard, " +
      "len(string_split(text, ' ')) AS nt FROM documents), " +
      s"b AS (SELECT doc_id, shard, nt, (nt + ${LenG - 1}) // $LenG " +
      "AS bucket FROM t), " +
      "r AS (SELECT doc_id, shard, nt, bucket, " +
      "row_number() OVER (PARTITION BY shard, bucket ORDER BY doc_id) " +
      "AS rn FROM b) " +
      "SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_docs, " +
      "count(*) AS n_batches, " +
      "CAST(sum(mx * cnt - sn) AS BIGINT) AS sum_padding, " +
      "CAST(sum(cks) AS BIGINT) AS assign_sum " +
      "FROM (SELECT shard, bucket, (rn - 1) // " + LenB + " AS batch, " +
      "count(*) AS cnt, max(nt) AS mx, sum(nt) AS sn, " +
      s"sum((doc_id % $AssignMod * 31 + rn - 1) % $AssignMod) AS cks " +
      s"FROM r GROUP BY shard, bucket, (rn - 1) // $LenB) bt " +
      "GROUP BY bucket ORDER BY bucket")

  /** No-split packing on LEARNED-BPE piece counts (q_pack_nosplit ×
    * q_text_fertility): learn the merge table, segment every word
    * occurrence, and pack per-doc PIECE counts — the layout a
    * trainer actually sees (whitespace tokens under-count sequence
    * length by the fertility factor, so bins sized on them overflow
    * at train time). The oracle replays learn (CTE rounds) → apply
    * (two-pass delimited replace) → per-doc piece sum → the same
    * recursive greedy walk as q_pack_nosplit. Spark side: piece
    * counting runs in the pre-shuffle projection
    * ([[Sampling.packNoSplitBy]]) — the text never moves; only
    * (shard, id, n_pieces) shuffles. */
  private val PackBpeWindow = 1024
  private val packBpe = Q("q_pack_bpe",
    (s, d) => {
      val d0 = docs(s, d)
      val merges = graft.ops.Bpe.learn(d0, "text", BpeRounds)
        .map(m => (m.a, m.b))
      // fused one-pass piece-count kernel; the composable
      // filter/aggregate/segment form is its executable spec (BpeSpec)
      val np = graft.ops.TextHashExpressions
        .bpePieceCount(col("text"), merges)
      Sampling.packNoSplitBy(d0, "doc_id", np, PackBpeWindow, PackShards)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          (max(col("bin")) + 1).as("n_bins"),
          sum(col("t")).as("toks"),
          sum(when(col("truncated"), 1L).otherwise(0L)).as("n_trunc"),
          ((max(col("bin")) + 1) * PackBpeWindow - sum(col("t")))
            .as("waste"),
          sum((col("doc_id") % AssignMod * 31 + col("bin") % AssignMod)
            % AssignMod).as("assign_sum"))
        .orderBy("shard")
    }, {
      val D = graft.ops.Bpe.DelimSql
      // merges apply on the DISTINCT-word grain (np is a pure
      // function of the word) and join back by token — occurrence-
      // grain application timed out DuckDB at sf0.1
      val applies = (1 to BpeRounds).map { r =>
        val prev = if (r == 1) "ws" else s"a${r - 1}"
        s"a$r AS (SELECT tok, replace(replace(seq, " +
          s"$D||a||$D||b||$D, $D||a||b||$D), " +
          s"$D||a||$D||b||$D, $D||a||b||$D) AS seq " +
          s"FROM $prev CROSS JOIN b$r)"
      }.mkString(", ")
      "WITH RECURSIVE " + bpeLearnCtes.stripPrefix("WITH ") +
        ", w AS (SELECT doc_id, tok FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents) " +
        s"WHERE tok <> '' AND NOT contains(tok, $D)), " +
        "wv AS (SELECT DISTINCT tok FROM w), " +
        s"ws AS (SELECT tok, $D || " +
        s"array_to_string(string_split(tok, ''), $D) || $D AS seq " +
        s"FROM wv), $applies, " +
        s"pc AS (SELECT tok, len(string_split(trim(seq, $D), $D)) " +
        s"AS np FROM a$BpeRounds), " +
        "ntd AS (SELECT d.doc_id, " +
        "CAST(coalesce(sum(wp.np), 0) AS BIGINT) AS nt " +
        "FROM documents d LEFT JOIN (SELECT w.doc_id, pc.np " +
        "FROM w JOIN pc USING (tok)) wp ON d.doc_id = wp.doc_id " +
        "GROUP BY d.doc_id), " +
        "t2 AS (SELECT doc_id, " +
        s"${TextAnalysis.TokenHashSql("CAST(doc_id AS VARCHAR)")} " +
        s"% $PackShards AS shard, nt FROM ntd), " +
        // MATERIALIZED: the recursive walk joins r2 once per step —
        // left inline, DuckDB re-evaluates the whole BPE chain every
        // iteration (measured: timeout at sf0.1 vs 1.4 s materialized)
        "r2 AS MATERIALIZED (SELECT doc_id, shard, nt, " +
        s"least(nt, $PackBpeWindow) AS tt, " +
        "row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn " +
        "FROM t2), " +
        "walk AS (" +
        "SELECT shard, rn, doc_id, nt, tt, CAST(0 AS BIGINT) AS bin, " +
        "tt AS fill FROM r2 WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT r2.shard, r2.rn, r2.doc_id, r2.nt, r2.tt, " +
        s"CASE WHEN w2.fill + r2.tt <= $PackBpeWindow THEN w2.bin " +
        "ELSE w2.bin + 1 END, " +
        s"CASE WHEN w2.fill + r2.tt <= $PackBpeWindow " +
        "THEN w2.fill + r2.tt ELSE r2.tt END " +
        "FROM walk w2 JOIN r2 ON r2.shard = w2.shard " +
        "AND r2.rn = w2.rn + 1) " +
        "SELECT shard, count(*) AS n_docs, " +
        "CAST(max(bin) + 1 AS BIGINT) AS n_bins, " +
        "CAST(sum(tt) AS BIGINT) AS toks, " +
        s"CAST(sum(CASE WHEN nt > $PackBpeWindow THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_trunc, " +
        s"CAST((max(bin) + 1) * $PackBpeWindow - sum(tt) AS BIGINT) " +
        "AS waste, " +
        s"CAST(sum((doc_id % $AssignMod * 31 + bin % $AssignMod) " +
        s"% $AssignMod) AS BIGINT) AS assign_sum " +
        "FROM walk GROUP BY shard ORDER BY shard"
    })

  /** UniMax budget allocation (Chung et al. 2023): 2/5 of the corpus
    * token mass split across languages by integer water-filling with
    * a 3-epoch per-language cap — the language-balanced alternative
    * to temperature sampling. Every column integer-exact; `saturated`
    * marks languages whose epoch cap (not the budget) binds. */
  private val UnimaxNum = 2L
  private val UnimaxDen = 5L
  private val UnimaxEpochs = 3

  /** Per-domain token-budget selection — "fill each source's budget
    * (2/5 of its token mass) with its best-scoring docs": docs order
    * by (classifier score desc, id) within their source and keep
    * while the running token sum fits the budget — the curation
    * step that turns a quality score into an actual selected corpus
    * under a size target. Budgets are integer (mass·2 div 5) and the
    * running sum is integer, so the kept set is exact. Round 10: the
    * per-source sort window (parallelism = domain count — the one
    * shape in the repo that fought the 100× curve, 18.8× at 100×)
    * is replaced by [[Sampling.selectBudget]]'s histogram-threshold
    * refinement: scan-and-aggregate passes find each source's
    * (score, id) cut, and only the ≤ cap-doc boundary bucket is
    * resolved by the exact running-sum window. Same kept set — the
    * oracle SQL is unchanged. */
  private val ShufEpochs = 2
  private val sampleBudget = Q("q_sample_budget",
    (s, d) =>
      Sampling.selectBudget(budgetScored(s, d), "source", "score",
          "nt", "doc_id", SelBudgetNum, SelBudgetDen)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("nt")).as("toks_kept"),
          max(col("budget")).as("budget"),
          round(min(col("score")), 5).as("min_score"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("source"),
    "WITH s AS (SELECT doc_id, source, " +
      "len(string_split(text, ' ')) AS nt, " +
      s"${graft.ops.QualityClassifier.ScoreSql(ClsWeights)} AS score " +
      "FROM documents), " +
      "b AS (SELECT source, " +
      s"CAST(sum(nt) * $SelBudgetNum // $SelBudgetDen AS BIGINT) " +
      "AS budget FROM s GROUP BY source), " +
      "r AS (SELECT s.*, sum(nt) OVER (PARTITION BY source " +
      "ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum " +
      "FROM s), " +
      "k AS (SELECT r.*, b.budget FROM r JOIN b USING (source) " +
      "WHERE r.cum <= b.budget) " +
      "SELECT source, count(*) AS n_kept, " +
      "CAST(sum(nt) AS BIGINT) AS toks_kept, " +
      "CAST(max(budget) AS BIGINT) AS budget, " +
      "round(min(score), 5) AS min_score, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM k GROUP BY source ORDER BY source")

  /** Deterministic epoch-reshuffled training order
    * ([[Sampling.epochShuffle]]): per (epoch, shard) doc counts and a
    * Σ (rank·id) mod M order checksum — the checksum only matches if
    * both engines assign every doc the SAME position in the same
    * epoch-salted shard, i.e. the entire training order is pinned.
    * `n_moved`-style decorrelation is visible in the data: the same
    * doc lands in different shards across epochs because the shard
    * salt includes the epoch. */
  private val sampleShuffle = Q("q_sample_shuffle",
    (s, d) => Sampling.epochShuffle(docs(s, d), "doc_id",
        ShufShards, ShufEpochs)
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("rank") * col("doc_id")) % lit(AssignMod))
          .as("order_sum"))
      .orderBy("epoch", "shard"),
    "WITH e AS (SELECT doc_id, unnest(range(0, " +
      s"$ShufEpochs)) AS epoch FROM documents), " +
      "k AS (SELECT doc_id, epoch, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#shf#' || CAST(epoch AS VARCHAR)")} " +
      s"% $ShufShards AS shard, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#ord#' || CAST(epoch AS VARCHAR)")} " +
      "AS okey FROM e), " +
      "r AS (SELECT epoch, shard, doc_id, " +
      "row_number() OVER (PARTITION BY epoch, shard " +
      "ORDER BY okey, doc_id) - 1 AS rank FROM k) " +
      "SELECT epoch, shard, count(*) AS n_docs, " +
      s"CAST(sum((rank * doc_id) % $AssignMod) AS BIGINT) AS order_sum " +
      "FROM r GROUP BY 1, 2 ORDER BY 1, 2")

  /** Shared water-filling CTE chain (l → c → r → g) ending with the
    * per-language alloc expression — reused by the allocation table
    * and its realization so the two oracles can never diverge. */
  private def unimaxCtes: String =
    "l AS (SELECT lang, " +
      "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks " +
      "FROM documents GROUP BY lang), " +
      s"c AS (SELECT lang, toks, toks * $UnimaxEpochs AS cap FROM l), " +
      "r AS (SELECT lang, toks, cap, " +
      "row_number() OVER (ORDER BY cap, lang) AS rk, " +
      "sum(cap) OVER (ORDER BY cap, lang ROWS UNBOUNDED PRECEDING) AS s, " +
      s"(SELECT $UnimaxNum * sum(toks) // $UnimaxDen FROM l) AS budget, " +
      "(SELECT count(*) FROM l) AS n FROM c), " +
      "g AS (SELECT max(budget) AS budget, max(n) AS n, " +
      "sum(CASE WHEN s + cap * (n - rk) <= budget THEN 1 ELSE 0 END) AS k, " +
      "coalesce(max(CASE WHEN s + cap * (n - rk) <= budget THEN s END), 0) " +
      "AS sk FROM r)"

  private val UnimaxAllocSql =
    "CAST(CASE WHEN r.rk <= g.k THEN r.cap " +
      "ELSE (g.budget - g.sk) // (g.n - g.k) END AS BIGINT)"

  private val mixUnimax = Q("q_mix_unimax",
    (s, d) => Sampling.unimaxAllocation(docs(s, d), "lang",
        size(TextAnalysis.tokens(col("text"))).cast("long"),
        UnimaxNum, UnimaxDen, UnimaxEpochs)
      .orderBy("lang"),
    s"WITH $unimaxCtes " +
      "SELECT r.lang, r.toks, r.cap, " +
      s"$UnimaxAllocSql AS alloc, " +
      "r.rk <= g.k AS saturated " +
      "FROM r, g ORDER BY lang")

  /** UniMax REALIZED: the budget table becomes an actual (doc, epoch)
    * training multiset — f_l = alloc_l/toks_l fractional epochs per
    * language drive the repeat-factor emitter (⌊f⌋ copies always,
    * one more on a salted sub-fractional draw), so each language
    * contributes ≈ alloc_l tokens. The Σ id·(epoch+1) checksum pins
    * the exact multiset (the q_sample_repeat discipline); toks_real
    * lets a reader audit realized vs allocated mass. One corpus scan
    * + a language-grain broadcast; the fan-out is explode(sequence),
    * shuffle-free ([[Sampling.unimaxRealize]]). */
  private val mixUnimaxRealize = Q("q_mix_unimax_realize",
    (s, d) => Sampling.unimaxRealize(docs(s, d), "doc_id", "lang",
        size(TextAnalysis.tokens(col("text"))).cast("long"),
        UnimaxNum, UnimaxDen, UnimaxEpochs)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("doc_id") * (col("epoch") + lit(1L))).as("checksum"),
        max(col("epoch")).as("max_epoch"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
          .as("toks_real"))
      .orderBy("lang"),
    s"WITH $unimaxCtes, " +
      s"a AS (SELECT r.lang, r.toks, $UnimaxAllocSql AS alloc " +
      "FROM r, g), " +
      "ff AS (SELECT lang, CAST(alloc AS DOUBLE) / CAST(toks AS DOUBLE) " +
      "AS f FROM a), " +
      "nn AS (SELECT d.doc_id, d.lang, " +
      "len(string_split(d.text, ' ')) AS nt, " +
      "CAST(floor(ff.f) AS BIGINT) + (CASE WHEN " +
      s"${Sampling.UnimaxDrawSql("d.doc_id")} < ff.f - floor(ff.f) " +
      "THEN 1 ELSE 0 END) AS n " +
      "FROM documents d JOIN ff USING (lang)), " +
      "e AS (SELECT doc_id, lang, nt, unnest(range(0, n)) AS epoch " +
      "FROM nn WHERE n >= 1) " +
      "SELECT lang, count(*) AS n_rows, " +
      "count(DISTINCT doc_id) AS n_docs, " +
      "CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS checksum, " +
      "CAST(max(epoch) AS BIGINT) AS max_epoch, " +
      "CAST(sum(nt) AS BIGINT) AS toks_real " +
      "FROM e GROUP BY lang ORDER BY lang")

  /** Leakage-safe k-fold assignment over exact-duplicate groups
    * ([[graft.ops.Sampling.groupKFold]]): fold = 60-bit hash of the
    * group representative mod k — whole duplicate families share a
    * fold, so no eval fold is contaminated by a training copy (the
    * k-fold dual of the group split; Lee et al. 2022 §6). One md5
    * group aggregate + join-back, then a pure map; the straddle probe
    * (groups spanning >1 fold) is structurally 0. Fold sizes, char
    * mass, and id checksums pinned cross-engine in exact integers. */
  private val KfoldK = 5
  private val sampleKfold = Q("q_sample_kfold",
    (s, d) => {
      val g = docs(s, d).select(col("doc_id"), col("n_chars"),
        md5(col("text")).as("h"))
      val keep = g.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
      val assigned = Sampling.groupKFold(g.join(keep, "h"), "keep_id",
        KfoldK)
      val straddle = assigned.groupBy("h")
        .agg(countDistinct(col("fold")).as("nf"))
        .agg(sum(when(col("nf") > 1, 1L).otherwise(0L)).as("n_straddle"))
      assigned.groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .crossJoin(straddle)
        .orderBy("fold")
    },
    "WITH g AS (SELECT doc_id, n_chars, md5(text) AS h FROM documents), " +
      "k AS (SELECT h, min(doc_id) AS keep_id FROM g GROUP BY h), " +
      "a AS (SELECT g.doc_id, g.n_chars, g.h, " +
      s"(${graft.ops.TextAnalysis.TokenHashSql("CAST(keep_id AS VARCHAR)")})" +
      s" % $KfoldK AS fold FROM g JOIN k USING (h)) " +
      "SELECT fold, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS chars, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
      "(SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
      "FROM (SELECT h, count(DISTINCT fold) AS nf FROM a GROUP BY h)) " +
      "AS n_straddle " +
      "FROM a GROUP BY fold ORDER BY fold")

  /** DoReMi-style domain reweighting (Xie et al. 2023, one-round
    * lite): domains with HIGHER bigram-LM loss (excess over the
    * easiest domain) get up-weighted — exp(excess) mixture weights —
    * then deterministic hash sampling realizes the new mix toward a
    * half-corpus target. The whole chain is in-plan: per-source NLL
    * (the [[graft.ops.NgramLm]] perplexity shape), one-row min/total
    * frames joined back (the winsorize broadcast pattern — no driver
    * round-trip), and a keep scan against the source-keyed rate
    * table. Per-source avg NLL is rounded(5) BEFORE the exp
    * arithmetic, so both engines feed bit-identical doubles into exp.
    *
    * The exponential weight is then QUANTIZED to int64 fixed point —
    * w = floor(exp(nll−mn)·2³⁰) — before the normalize/compare chain,
    * the same cross-engine discipline as q_stats_mi/q_events_decayed:
    * z = Σw is an exact integer, and every downstream double (q,
    * rate) is a ratio of exact integers computed in the identical
    * written order on both engines, so the final round(·,5) cannot
    * sit on a libm-dependent boundary. The ~2⁻³⁰ relative coarsening
    * of the mixture weights is far below the rounded 5-digit output
    * resolution. (Residual risk is only floor(exp·2³⁰) itself
    * flipping on a 1-ulp libm difference at an integer boundary —
    * the same accepted residue as every other quantized chain.) */
  private val DoremiWScale = 1073741824L // 2^30
  private val sampleDoremi = Q("q_sample_doremi",
    (s, d) => {
      val d0 = docs(s, d)
      // ONE tokenize pass (pinned hash lists) and a pinned per-source
      // summary: st is source-grain (a handful of rows) but feeds
      // mn/tot/w/z/rates/kept — unpinned, every one of those re-ran
      // the whole LM train+score chain (the r14 plan audit measured
      // 74 parquet scans / 162 exchanges on this query)
      val hl = pin(NgramLm.hashListFrame(d0, "text", "doc_id",
        keep = Seq("source")))
      val lm = NgramLm.trainFromHl(hl, "doc_id")
      val ppl = NgramLm.perplexityFromHl(hl, "doc_id", lm)
      // r15 (guide §7.2): the global mn/tot/z summaries are WINDOWED
      // over ONE st subtree instead of crossJoin-ed one-row aggregate
      // branches. The five aggregate consumers (mn/tot/w/z/rates) each
      // re-planned the whole LM chain statically — the r14 plan audit
      // measured 38 parquet scans / 162 Exchanges; ReuseExchange
      // deduped them at runtime but that reuse is fragile under AQE
      // re-optimization. The window frame is the SOURCE grain (a
      // handful of rows by definition), so the single-partition
      // exchange is bounded, like unimaxAllocation's. Same arithmetic,
      // same rounding, bit-identical rows (oracle re-verified).
      // Pinning st instead was measured SLOWER in r14 (3.1 vs 2.0 s —
      // the barrier cost more than the reuse saved) and is still the
      // rejected alternative.
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val st = hl.select(col("doc_id"), col("source"))
        .join(ppl, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg(col("nll")), 5).as("nll"))
      val w = st
        .withColumn("mn", min(col("nll")).over(wAll))
        .withColumn("n_total", sum(col("n_docs")).over(wAll))
        .withColumn("w", floor(exp(col("nll") - col("mn")) *
          lit(DoremiWScale.toDouble)).cast("long"))
      val rates = w
        .withColumn("z", sum(col("w")).over(wAll))
        .select(col("source"), col("n_docs"), col("nll"),
          round(col("w").cast("double") / col("z").cast("double"), 5)
            .as("q"),
          round(least(lit(1.0),
            (col("n_total").cast("double") / lit(2.0)) *
              (col("w").cast("double") / col("z").cast("double")) /
              col("n_docs").cast("double")), 5)
            .as("rate"))
      val kept = hl.select(col("doc_id"), col("source"))
        .join(broadcast(rates.select("source", "rate")), "source")
        .where(Sampling.hashFraction(col("doc_id")) < col("rate"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("nll"), col("q"),
          col("rate"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
        .orderBy("source")
    },
    s"WITH t AS (SELECT doc_id, source, " +
      s"[${TextAnalysis.TokenHashSql("w")} % ${Dedup.NgramFpMod} " +
      "for w in string_split(text, ' ')] AS hl FROM documents), " +
      "bg0 AS (SELECT doc_id, source, unnest([{'w1': hl[i], " +
      s"'b': (hl[i]*31 + hl[i+1]) % ${Dedup.NgramFpMod}} " +
      "for i in range(1, len(hl))]) AS u FROM t), " +
      "bg AS (SELECT doc_id, source, u.w1 AS w1, u.b AS b FROM bg0), " +
      "cb AS (SELECT b, count(*) AS cb FROM bg GROUP BY b), " +
      "cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1), " +
      "v AS (SELECT count(DISTINCT h) AS v FROM " +
      "(SELECT unnest(hl) AS h FROM t)), " +
      "ppl AS (SELECT doc_id, source, " +
      "avg(-ln((cb.cb + 1.0) / CAST(cu.cu + v.v AS DOUBLE))) AS nll " +
      "FROM bg JOIN cb USING (b) JOIN cu USING (w1) CROSS JOIN v " +
      "GROUP BY doc_id, source), " +
      "st AS (SELECT source, count(*) AS n_docs, " +
      "round(avg(nll), 5) AS nll FROM ppl GROUP BY source), " +
      "mn AS (SELECT min(nll) AS mn FROM st), " +
      "tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM st), " +
      "w AS (SELECT source, n_docs, nll, " +
      s"CAST(floor(exp(nll - mn.mn) * $DoremiWScale.0) AS BIGINT) AS w " +
      "FROM st CROSS JOIN mn), " +
      "z AS (SELECT CAST(sum(w) AS BIGINT) AS z FROM w), " +
      "rates AS (SELECT source, n_docs, nll, " +
      "round(CAST(w AS DOUBLE) / CAST(z.z AS DOUBLE), 5) AS q, " +
      "round(least(1.0, (CAST(tot.n_total AS DOUBLE) / 2.0) * " +
      "(CAST(w AS DOUBLE) / CAST(z.z AS DOUBLE)) / " +
      "CAST(n_docs AS DOUBLE)), 5) AS rate " +
      "FROM w CROSS JOIN z CROSS JOIN tot), " +
      "kept AS (SELECT d.source, count(*) AS n_kept, " +
      "CAST(sum(d.doc_id) AS BIGINT) AS kept_id_sum " +
      "FROM documents d JOIN rates USING (source) " +
      s"WHERE ${Sampling.HashFractionSql("doc_id")} < rate " +
      "GROUP BY d.source) " +
      "SELECT rates.source, CAST(n_docs AS BIGINT) AS n_docs, nll, q, " +
      "rate, coalesce(n_kept, 0) AS n_kept, " +
      "coalesce(kept_id_sum, 0) AS kept_id_sum " +
      "FROM rates LEFT JOIN kept ON rates.source = kept.source " +
      "ORDER BY rates.source")

  /** Rendezvous-vs-mod resharding — the stable-layout story for
    * incremental ingest: HRW assignment ([[Layout.rendezvousShard]])
    * at S=32 and S'=48 moves exactly the docs whose new argmax lands
    * in the 16 added shards (`n_moved == n_into_new` by the prefix
    * property — the surviving shards' scores are unchanged), an
    * expected 1/3, while doc_id-mod resharding relabels ~2/3. Both
    * schemes aggregate through one (scheme, shard) grain with
    * map-side partials; per-row work is 160 model-sized md5s, no
    * join anywhere. max/min shard loads pin HRW's balance. */
  private val shardRendezvous = Q("q_shard_rendezvous",
    (s, d) => {
      val a = docs(s, d).select(col("doc_id"),
        Layout.rendezvousShard(col("doc_id"), 48).as("h48"),
        Layout.rendezvousShard(col("doc_id"), 32).as("h32"),
        pmod(col("doc_id"), lit(48L)).cast("int").as("m48"),
        pmod(col("doc_id"), lit(32L)).cast("int").as("m32"))
      val ex = a.select(col("doc_id"), explode(array(
          struct(lit("hrw").as("scheme"), col("h48").as("shard"),
            (col("h48") =!= col("h32")).as("moved"),
            (col("h48") >= 32).as("into_new")),
          struct(lit("mod").as("scheme"), col("m48").as("shard"),
            (col("m48") =!= col("m32")).as("moved"),
            (col("m48") >= 32).as("into_new")))).as("r"))
        .select(col("doc_id"), col("r.scheme"), col("r.shard"),
          col("r.moved"), col("r.into_new"))
      ex.groupBy("scheme", "shard")
        .agg(count(lit(1)).as("n"),
          sum(when(col("moved"), 1L).otherwise(0L)).as("mv"),
          sum(when(col("into_new"), 1L).otherwise(0L)).as("inw"),
          sum(col("shard").cast("long") *
            pmod(col("doc_id"), lit(997L))).as("pn"))
        .groupBy("scheme")
        .agg(sum(col("n")).as("n_docs"), sum(col("mv")).as("n_moved"),
          sum(col("inw")).as("n_into_new"), max(col("n")).as("max_load"),
          min(col("n")).as("min_load"), sum(col("pn")).as("shard_pin"))
        .orderBy("scheme")
    },
    "WITH ls AS (SELECT doc_id, " +
      s"${Layout.RendezvousScoresSql("doc_id", 48)} AS l48, " +
      s"${Layout.RendezvousScoresSql("doc_id", 32)} AS l32 " +
      "FROM documents), " +
      "asn AS (SELECT doc_id, " +
      "CAST(list_position(l48, list_aggregate(l48, 'max')) - 1 AS INT) " +
      "AS h48, " +
      "CAST(list_position(l32, list_aggregate(l32, 'max')) - 1 AS INT) " +
      "AS h32, CAST(doc_id % 48 AS INT) AS m48, " +
      "CAST(doc_id % 32 AS INT) AS m32 FROM ls), " +
      "ex AS (SELECT doc_id, 'hrw' AS scheme, h48 AS shard, " +
      "h48 <> h32 AS moved, h48 >= 32 AS into_new FROM asn " +
      "UNION ALL SELECT doc_id, 'mod', m48, m48 <> m32, m48 >= 32 " +
      "FROM asn), " +
      "l1 AS (SELECT scheme, shard, count(*) AS n, " +
      "sum(CASE WHEN moved THEN 1 ELSE 0 END) AS mv, " +
      "sum(CASE WHEN into_new THEN 1 ELSE 0 END) AS inw, " +
      "sum(shard * (doc_id % 997)) AS pn FROM ex " +
      "GROUP BY scheme, shard) " +
      "SELECT scheme, CAST(sum(n) AS BIGINT) AS n_docs, " +
      "CAST(sum(mv) AS BIGINT) AS n_moved, " +
      "CAST(sum(inw) AS BIGINT) AS n_into_new, " +
      "CAST(max(n) AS BIGINT) AS max_load, " +
      "CAST(min(n) AS BIGINT) AS min_load, " +
      "CAST(sum(pn) AS BIGINT) AS shard_pin " +
      "FROM l1 GROUP BY scheme ORDER BY scheme")

  /** Histogram range/resolution for the RHO excess-loss scores. The
    * excess of two same-class LMs differing only in training subset
    * is SMALL (measured [-0.11, 0.02] at sf0.01): a
    * wide coarse histogram would interpolate p75 past the max and
    * select nothing, so the range is tight and 256 buckets keep the
    * threshold inside the populated mass. */
  private val RhoLo = -0.25
  private val RhoHi = 0.25
  private val RhoBuckets = 256

  /** RHO-style learnability selection (Lin et al. 2024 "Rho-1", also
    * the DoReMi/DSIR family's "reference model" move): score every
    * doc under a BASE bigram LM trained on the full corpus and a
    * REFERENCE LM trained on the quality-floored clean subset; keep
    * the top quartile by excess loss (nll_base − nll_ref) — docs the
    * base model finds hard but the clean-corpus model finds easy,
    * i.e. learnable signal rather than noise. Scale shape: two LM
    * trainings are two hash aggregates each on 45-bit keys; scoring
    * is the verified q_text_perplexity join shape (many-to-one on
    * post-agg keys, unseen n-grams via left-join + fill); the p75
    * threshold comes from the portable histogram sketch (≤ 64 rows)
    * broadcast back — no window, no driver round-trip. The kept SET
    * is pinned by id sums (flip odds per doc ~1e-10 from last-ulp ln
    * differences — the accepted q_stats_mi discipline). */
  private val sampleRho = Q("q_sample_rho",
    (s, d) => {
      val d0 = docs(s, d)
      // ONE tokenize+quality pass: the pinned frame carries the hash
      // lists plus the clean-subset flag; both LM trainings, both
      // scorings and the source join derive from it (the unpinned
      // plan scanned documents.parquet 28 times — every train/score
      // subplan re-tokenized the corpus, and the quality regex ran
      // once per ref-LM subplan)
      val hl = pin(d0.select(col("doc_id"), col("source"),
        Dedup.tokenHashList(col("text")).as("__hl"),
        (TextAnalysis.qualityScore(col("text")) >= 0.7).as("__clean")))
      val lmBase = NgramLm.trainFromHl(hl, "doc_id")
      val lmRef = NgramLm.trainFromHl(hl.where(col("__clean")), "doc_id")
      val nb = NgramLm.perplexityFromHl(hl, "doc_id", lmBase)
        .select(col("doc_id"), col("nll").as("nll_base"))
      val nr = NgramLm.perplexityFromHl(hl, "doc_id", lmRef)
        .select(col("doc_id"), col("nll").as("nll_ref"))
      // doc-grain excess frame, read twice (threshold sketch + the
      // final keep aggregate) — pin it or the whole LM chain above
      // runs twice
      val ex = pin(hl.select("doc_id", "source")
        .join(nb, "doc_id").join(nr, "doc_id")
        .withColumn("excess", col("nll_base") - col("nll_ref")))
      val qrow = graft.ops.Sketches.histogramQuantiles(ex,
          col("excess"), lo = RhoLo, hi = RhoHi, nBuckets = RhoBuckets,
          qs = Seq(0.75))
        .select("p75")
      ex.crossJoin(broadcast(qrow))
        .where(col("excess") >= col("p75"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          round(avg(col("excess")), 5).as("avg_excess"),
          round(min(col("p75")), 5).as("p75"))
        .orderBy("source")
    }, {
      val M = Dedup.NgramFpMod
      "WITH t AS (SELECT doc_id, source, text, " +
        "string_split(text, ' ') AS ws, " +
        s"[${TextAnalysis.TokenHashSql("w")} % $M " +
        "for w in string_split(text, ' ')] AS hl FROM documents), " +
        s"clean AS (SELECT doc_id FROM t WHERE $QualitySql >= 0.7), " +
        "bg0 AS (SELECT doc_id, unnest([{'w1': hl[i], " +
        s"'b': (hl[i]*31 + hl[i+1]) % $M} " +
        "for i in range(1, len(hl))]) AS u FROM t), " +
        "bg AS (SELECT doc_id, u.w1 AS w1, u.b AS b FROM bg0), " +
        "cbB AS (SELECT b, count(*) AS cb FROM bg GROUP BY b), " +
        "cuB AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1), " +
        "vB AS (SELECT count(DISTINCT h) AS v FROM " +
        "(SELECT unnest(hl) AS h FROM t)), " +
        "bgR AS (SELECT bg.doc_id, bg.w1, bg.b FROM bg " +
        "JOIN clean USING (doc_id)), " +
        "cbR AS (SELECT b, count(*) AS cb FROM bgR GROUP BY b), " +
        "cuR AS (SELECT w1, count(*) AS cu FROM bgR GROUP BY w1), " +
        "vR AS (SELECT count(DISTINCT h) AS v FROM " +
        "(SELECT unnest(hl) AS h FROM t JOIN clean USING (doc_id))), " +
        "pb AS (SELECT doc_id, avg(-ln((cbB.cb + 1.0) / " +
        "CAST(cuB.cu + vB.v AS DOUBLE))) AS nll_base " +
        "FROM bg JOIN cbB USING (b) JOIN cuB USING (w1) " +
        "CROSS JOIN vB GROUP BY doc_id), " +
        "pr AS (SELECT bg.doc_id, avg(-ln((coalesce(cbR.cb, 0) + 1.0) " +
        "/ CAST(coalesce(cuR.cu, 0) + vR.v AS DOUBLE))) AS nll_ref " +
        "FROM bg LEFT JOIN cbR USING (b) LEFT JOIN cuR USING (w1) " +
        "CROSS JOIN vR GROUP BY bg.doc_id), " +
        "ex AS (SELECT t.doc_id, t.source, " +
        "pb.nll_base - pr.nll_ref AS excess FROM t " +
        "JOIN pb ON t.doc_id = pb.doc_id " +
        "JOIN pr ON t.doc_id = pr.doc_id), " +
        "h AS (SELECT " +
        s"${graft.ops.Sketches.BucketSql("excess", RhoLo, RhoHi, RhoBuckets)} " +
        "AS b FROM ex), " +
        "hist AS (SELECT b, count(*) AS cnt FROM h GROUP BY b), " +
        "c AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(cnt) OVER () AS n FROM hist), " +
        "qq AS (SELECT " +
        s"${graft.ops.Sketches.QuantileSql(0.75, RhoLo, RhoHi, RhoBuckets)} " +
        "AS p75 FROM c) " +
        "SELECT source, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
        "round(avg(excess), 5) AS avg_excess, " +
        "round(min(p75), 5) AS p75 " +
        "FROM ex CROSS JOIN qq WHERE excess >= p75 " +
        "GROUP BY source ORDER BY source"
    })

  /** Eval budget for the largest-remainder quota allocation. */
  private val QuotaB = 200

  /** Largest-remainder (Hamilton) quota allocation + realization:
    * split a fixed eval budget of [[QuotaB]] docs across sources
    * proportionally to CHAR mass (so remainders genuinely vary —
    * doc counts are near-uniform on this corpus), award the floor
    * quotas, then the leftover seats to the largest remainders
    * (ties → source name) — all integer arithmetic, so the
    * allocation is exact on any engine. Realization keeps each
    * source's quota smallest hash draws via the bounded TopK
    * aggregate (O(budget) state per group, never a data-grain rank
    * window — the only row_number runs on the |sources|-row quota
    * table, the UniMax post-agg-grain precedent). Kept sets pinned
    * by id sums. */
  private val sampleQuota = Q("q_sample_quota",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val d0 = docs(s, d)
      val counts = d0.groupBy("source").agg(count(lit(1)).as("ns"),
        sum(col("n_chars")).as("cs"))
      val tot = counts.agg(sum(col("cs")).as("ct"))
      val qbase = counts.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($QuotaB * cs) div ct"))
        .withColumn("rem", (lit(QuotaB.toLong) * col("cs")) % col("ct"))
      val defRow = qbase
        .agg((lit(QuotaB.toLong) - sum(col("base"))).as("deficit"))
      val w = Window.orderBy(col("rem").desc, col("source").asc)
      val quotas = qbase.crossJoin(broadcast(defRow))
        .withColumn("rk", row_number().over(w))
        .withColumn("quota",
          col("base") + when(col("rk") <= col("deficit"), 1L)
            .otherwise(0L))
        .select("source", "ns", "cs", "quota")
      val top = d0.groupBy("source")
        .agg(graft.ops.TopK.topK(-Sampling.hashFraction(col("doc_id")),
          col("doc_id").cast("long"), QuotaB).as("__top"))
        .select(col("source"), posexplode(col("__top")))
        .select(col("source"), col("pos"), col("col.id").as("doc_id"))
      val kept = top.join(quotas.select("source", "quota"), "source")
        .where(col("pos") < col("quota"))
        .groupBy("source")
        .agg(count(lit(1)).as("nk"), sum(col("doc_id")).as("isum"))
      quotas.join(kept, Seq("source"), "left")
        .select(col("source"), col("ns").as("n_docs"),
          col("cs").as("chars"), col("quota"),
          coalesce(col("nk"), lit(0L)).as("n_kept"),
          coalesce(col("isum"), lit(0L)).as("id_sum"))
        .orderBy("source")
    },
    "WITH c AS (SELECT source, count(*) AS ns, " +
      "CAST(sum(n_chars) AS BIGINT) AS cs FROM documents " +
      "GROUP BY source), " +
      "t AS (SELECT CAST(sum(cs) AS BIGINT) AS ct FROM c), " +
      s"qb AS (SELECT source, ns, cs, ($QuotaB * cs) // ct AS base, " +
      s"($QuotaB * cs) % ct AS rem FROM c CROSS JOIN t), " +
      s"df AS (SELECT $QuotaB - CAST(sum(base) AS BIGINT) AS deficit " +
      "FROM qb), " +
      "qt AS (SELECT source, ns, cs, base + (CASE WHEN " +
      "row_number() OVER (ORDER BY rem DESC, source ASC) <= deficit " +
      "THEN 1 ELSE 0 END) AS quota FROM qb CROSS JOIN df), " +
      "rk AS (SELECT source, doc_id, row_number() OVER (" +
      "PARTITION BY source ORDER BY " +
      s"${Sampling.HashFractionSql("doc_id")} ASC, doc_id ASC) AS rn " +
      "FROM documents), " +
      "kept AS (SELECT rk.source, count(*) AS nk, " +
      "CAST(sum(rk.doc_id) AS BIGINT) AS isum FROM rk " +
      "JOIN qt USING (source) WHERE rk.rn <= qt.quota " +
      "GROUP BY rk.source) " +
      "SELECT qt.source AS source, qt.ns AS n_docs, qt.cs AS chars, " +
      "CAST(qt.quota AS BIGINT) AS quota, " +
      "CAST(coalesce(kept.nk, 0) AS BIGINT) AS n_kept, " +
      "CAST(coalesce(kept.isum, 0) AS BIGINT) AS id_sum " +
      "FROM qt LEFT JOIN kept ON qt.source = kept.source " +
      "ORDER BY source")

  /** Difficulty-curriculum training order: docs bin by an integer
    * difficulty proxy (length quartile — short = easy), shard by the
    * salted epoch-shuffle hash, and order (bin asc, hash, id) WITHIN
    * each shard — easy-first curriculum with hash-decorrelated order
    * inside each difficulty band, parallel across shards (the
    * q_sample_shuffle scale shape; the per-shard window is the
    * packing argument: a training ORDER is sequential per shard by
    * definition). The (pos, id) checksum pins every doc's exact
    * position; Σ pos·bin is the monotonicity witness (minimal ⇔
    * easy-first). */
  private val CurrShards = 4
  private val sampleCurriculum = Q("q_sample_curriculum",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val q0 = docs(s, d).select(col("doc_id"),
        least(col("n_chars").cast("long") / lit(256L), lit(3L))
          .cast("long").as("bin"),
        pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#cur#0"))),
          lit(CurrShards.toLong)).as("shard"),
        TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#crd#0"))).as("okey"))
      val w = Window.partitionBy("shard")
        .orderBy(col("bin").asc, col("okey").asc, col("doc_id").asc)
      q0.withColumn("pos", row_number().over(w).cast("long") - 1)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bin")).as("bin_sum"),
          sum(col("pos") * col("bin")).as("pos_bin_sum"),
          sum((col("pos") % AssignMod * 31 + col("doc_id") % AssignMod)
            % AssignMod).as("order_sum"))
        .orderBy("shard")
    },
    "WITH q0 AS (SELECT doc_id, " +
      "least(n_chars // 256, 3) AS bin, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#cur#0'")} % $CurrShards AS shard, " +
      s"${TextAnalysis.TokenHashSql(
        "CAST(doc_id AS VARCHAR) || '#crd#0'")} AS okey " +
      "FROM documents), " +
      "r AS (SELECT shard, bin, doc_id, row_number() OVER (" +
      "PARTITION BY shard ORDER BY bin ASC, okey ASC, doc_id ASC) - 1 " +
      "AS pos FROM q0) " +
      "SELECT shard, count(*) AS n_docs, " +
      "CAST(sum(bin) AS BIGINT) AS bin_sum, " +
      "CAST(sum(pos * bin) AS BIGINT) AS pos_bin_sum, " +
      s"CAST(sum((pos % $AssignMod * 31 + doc_id % $AssignMod) " +
      s"% $AssignMod) AS BIGINT) AS order_sum " +
      "FROM r GROUP BY shard ORDER BY shard")

  /** Packing-policy audit: the same corpus packed by one-pass
    * next-fit in ARRIVAL order vs next-fit-DECREASING (length-sorted)
    * order — both through the identical
    * [[Sampling.packNoSplitOrdered]] O(1)-state kernel, differing
    * only in the order key (NFD's is (window+1−t)·2⁴⁰ + id — unique,
    * so the walk order is total and replayable). `waste_delta`
    * (arrival − NFD) measures what the ordering policy is worth —
    * and on this corpus it is NEGATIVE: sorting descending HURTS a
    * next-fit packer (two near-window docs can never share a bin, so
    * the front of the sorted stream strands a gap per bin, while
    * arrival order interleaves big and small). That is the audit's
    * point — "sort by length" is folk wisdom from FIRST-fit-
    * decreasing, and a one-pass packer needs the measurement, not
    * the folklore. The oracle replays BOTH walks as recursive CTEs
    * (the q_pipeline_trainorder discipline), so every bin boundary
    * of both schemes is pinned. */
  private val packAudit = Q("q_pack_audit",
    (s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"),
        pmod(TextAnalysis.tokenHash(
          concat(col("doc_id").cast("string"), lit("#pk#0"))),
          lit(4L)).as("shard"))
      def walk(ord: org.apache.spark.sql.Column, scheme: String) =
        Sampling.packNoSplitOrdered(base, col("shard"), ord,
            col("nt"), PackWindow, 4)
          .groupBy("shard")
          .agg((max(col("bin")) + 1).as(s"${scheme}_bins"),
            ((max(col("bin")) + 1) * PackWindow - sum(col("t")))
              .as(s"${scheme}_waste"),
            sum((col("ord") % AssignMod * 31 + col("bin") % AssignMod)
              % AssignMod).as(s"${scheme}_assign"))
      val t = least(col("nt"), lit(PackWindow.toLong))
      val arr = walk(col("doc_id"), "arrival")
      val nfd = walk((lit(PackWindow.toLong + 1) - t) *
        lit(1L << 40) + col("doc_id"), "nfd")
      arr.join(nfd, "shard")
        .withColumn("waste_delta",
          col("arrival_waste") - col("nfd_waste"))
        .orderBy("shard")
    }, {
      def walkSql(ordExpr: String, tag: String) =
        s"rk_$tag AS MATERIALIZED (SELECT shard, tt, ord, " +
          "row_number() OVER (PARTITION BY shard ORDER BY ord) AS rn " +
          s"FROM (SELECT shard, tt, $ordExpr AS ord FROM b)), " +
          s"walk_$tag AS (" +
          "SELECT shard, rn, ord, tt, CAST(0 AS BIGINT) AS bin, " +
          s"tt AS fill FROM rk_$tag WHERE rn = 1 " +
          "UNION ALL " +
          s"SELECT r.shard, r.rn, r.ord, r.tt, " +
          s"CASE WHEN w.fill + r.tt <= $PackWindow THEN w.bin " +
          "ELSE w.bin + 1 END, " +
          s"CASE WHEN w.fill + r.tt <= $PackWindow " +
          "THEN w.fill + r.tt ELSE r.tt END " +
          s"FROM walk_$tag w JOIN rk_$tag r ON r.shard = w.shard " +
          "AND r.rn = w.rn + 1), " +
          s"agg_$tag AS (SELECT shard, " +
          s"CAST(max(bin) + 1 AS BIGINT) AS ${tag}_bins, " +
          s"CAST((max(bin) + 1) * $PackWindow - sum(tt) AS BIGINT) " +
          s"AS ${tag}_waste, " +
          s"CAST(sum((ord % $AssignMod * 31 + bin % $AssignMod) " +
          s"% $AssignMod) AS BIGINT) AS ${tag}_assign " +
          s"FROM walk_$tag GROUP BY shard)"
      "WITH RECURSIVE b AS MATERIALIZED (SELECT doc_id, " +
        s"least(len(string_split(text, ' ')), $PackWindow) AS tt, " +
        s"${TextAnalysis.TokenHashSql(
          "CAST(doc_id AS VARCHAR) || '#pk#0'")} % 4 AS shard " +
        "FROM documents), " +
        walkSql("doc_id", "arrival") + ", " +
        walkSql(s"(${PackWindow + 1} - tt) * ${1L << 40} + doc_id",
          "nfd") + " " +
        "SELECT shard, arrival_bins, arrival_waste, arrival_assign, " +
        "nfd_bins, nfd_waste, nfd_assign, " +
        "arrival_waste - nfd_waste AS waste_delta " +
        "FROM agg_arrival JOIN agg_nfd USING (shard) ORDER BY shard"
    })

  val all: Seq[Q] = Seq(
    sampleStratified, sampleTemperature, sampleRepeat, sampleFixedN,
    sampleGroupSplit, sampleKfold, sampleDoremi, sampleWeighted,
    sampleDomainCap, sampleDsir, sampleTopQuantile, sampleTopQuantileBy,
    shardManifest, packSequences, packNoSplit, packLenBatch, packBpe,
    packFim, packSpanCorrupt, packChat, packDpo, sampleEvalsafe, mixUnimax,
    mixUnimaxRealize, sampleShuffle, sampleBudget, shardRendezvous,
    sampleRho, sampleQuota, sampleCurriculum, packAudit, shardBloomIndex)
}
