package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Entity resolution ([[Entity]]): the FastSS deletion-neighborhood
  * recall guarantee at τ = 1, the block-column prior, the negative
  * control (distance-2 records stay unresolved), and transitive
  * chaining. */
class EntitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  test("deletionKeys emits the key plus every single-char deletion " +
    "in position order") {
    val s = spark
    import s.implicits._
    val got = Seq("abc").toDF("k")
      .select(Entity.deletionKeys(col("k")).as("d"))
      .head().getSeq[String](0)
    assert(got == Seq("abc", "bc", "ac", "ab"))
    // single char: the key and the empty deletion
    val one = Seq("x").toDF("k")
      .select(Entity.deletionKeys(col("k")).as("d"))
      .head().getSeq[String](0)
    assert(one == Seq("x", ""))
  }

  test("candidatePairs recall is exactly 100% for lev<=1 key pairs " +
    "(equal, deletion, substitution, insertion) and the block prior " +
    "separates otherwise-identical keys") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "12345", "A"), (2L, "12345", "A"),  // equal keys
      (3L, "1234", "A"),                        // deletion of 1
      (4L, "12945", "A"),                       // substitution of 1
      (5L, "912345", "A"),                      // insertion into 1
      (6L, "99999", "A"),                       // unrelated
      (7L, "12345", "B")                        // same key, other block
    ).toDF("rid", "key", "blk")
    val pairs = Entity.candidatePairs(df, "rid", "key", Seq("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every true lev<=1 neighbor of rid 1 is a candidate
    assert(Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).subsetOf(pairs))
    // the cross-block twin is not
    assert(!pairs.exists { case (a, b) => a == 7L || b == 7L })
    // the unrelated key is not
    assert(!pairs.exists { case (a, b) => a == 6L || b == 6L })
  }

  test("resolve merges lev<=1 records transitively, leaves the " +
    "distance-2 negative control alone, and labels every record") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // chain: 10-11 (sub), 11-12 (sub) — one entity via closure
      (10L, "77123", "n77123", "A"),
      (11L, "77124", "n77124", "A"),
      (12L, "77125", "n77125", "A"),
      // negative control: lev 2 from everything
      (13L, "77888", "n77888", "A"),
      // singleton in its own block
      (14L, "77123", "n77123", "B")
    ).toDF("rid", "key", "name", "blk")
    val got = Entity.resolve(df, "rid", "key", "name", Seq("blk"))
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 10L && got(11L) == 10L && got(12L) == 10L)
    assert(got(13L) == 13L)
    assert(got(14L) == 14L)
    assert(got.size == 5)
  }

  test("resolveAgainst: arrivals link to the archive index (typo'd, " +
    "exact) or stay fresh, and the assignment is batch-split " +
    "invariant (the steady-state / streaming contract)") {
    val s = spark
    import s.implicits._
    val archive = Seq(
      (10L, "77123", "n77123", "A"),
      (11L, "77124", "n77124", "A"),  // merges with 10 (lev 1)
      (20L, "88888", "n88888", "A")
    ).toDF("rid", "key", "name", "blk")
    val resolved = Entity.resolve(archive, "rid", "key", "name",
      Seq("blk"))
    val index = Entity.archiveIndex(resolved, "key", "name", Seq("blk"))
    val arrivals = Seq(
      (100L, "77125", "n77125", "A"),  // lev 1 of 11 -> entity 10
      (101L, "88888", "n88888", "A"),  // exact match of 20
      (102L, "77125", "n77125", "B"),  // right key, wrong block
      (103L, "55555", "n55555", "A")   // fresh
    ).toDF("rid", "key", "name", "blk")
    def assign(df: org.apache.spark.sql.DataFrame) =
      Entity.resolveAgainst(index, df, "rid", "key", "name",
        Seq("blk")).select("rid", "entity").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = assign(arrivals)
    assert(got == Map(100L -> 10L, 101L -> 20L, 102L -> 102L,
      103L -> 103L))
    // batch-split invariance: each half assigned alone == together
    val half1 = assign(arrivals.where(col("rid") <= 101L))
    val half2 = assign(arrivals.where(col("rid") > 101L))
    assert(half1 ++ half2 == got)
  }

  /** resolve an archive at `tau`, index it at depth `tau`, and map
    * each arrival's rid to the entity resolveAgainst assigns it */
  private def assignAgainst(archive: org.apache.spark.sql.DataFrame,
      arrivals: org.apache.spark.sql.DataFrame, tau: Int): Map[Long, Long] = {
    val resolved = Entity.resolve(archive, "rid", "key", "name",
      Seq("blk"), tau = tau)
    val index = Entity.archiveIndex(resolved, "key", "name",
      Seq("blk"), k = tau)
    Entity.resolveAgainst(index, arrivals, "rid", "key", "name",
        Seq("blk"), tau = tau).select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("resolveAgainst links lev-1, exact and deletion-typo arrivals " +
    "to their archive entity within the block; a wrong-block arrival " +
    "stays fresh") {
    val s = spark
    import s.implicits._
    val archive = Seq(
      (10L, "77123", "n77123", "A"),
      (11L, "77124", "n77124", "A"), // merges with 10 (lev 1)
      (20L, "88888", "n88888", "A"),
      (30L, "55555", "n55555", "B")
    ).toDF("rid", "key", "name", "blk")
    val arrivals = Seq(
      (100L, "77125", "n77125", "A"), // lev 1 of 11 -> entity 10
      (101L, "88888", "n88888", "A"), // exact match of 20
      (102L, "77125", "n77125", "B"), // right key, wrong block
      (103L, "55556", "n55556", "B"), // lev 1 of 30 in block B
      (104L, "99999", "n99999", "A"), // fresh
      (105L, "7712", "n7712", "A")    // deletion of 77123/77124
    ).toDF("rid", "key", "name", "blk")
    assert(assignAgainst(archive, arrivals, 1) == Map(100L -> 10L,
      101L -> 20L, 102L -> 102L, 103L -> 30L, 104L -> 104L, 105L -> 10L))
  }

  test("resolveAgainst at tau=2: a double-substitution arrival links " +
    "through the depth-2 index; wrong-block and lev-3 arrivals stay " +
    "fresh") {
    val s = spark
    import s.implicits._
    val archive = Seq((10L, "1234567", "n1234567", "A"))
      .toDF("rid", "key", "name", "blk")
    val arrivals = Seq(
      (100L, "1934867", "n1934867", "A"), // sub+sub: lev 2 -> 10
      (101L, "1234567", "n1234567", "B"), // wrong block: fresh
      (102L, "9994567", "n9994567", "A")  // lev 3: fresh
    ).toDF("rid", "key", "name", "blk")
    assert(assignAgainst(archive, arrivals, 2) ==
      Map(100L -> 10L, 101L -> 101L, 102L -> 102L))
  }

  test("deletionKeys k=2 emits the deduplicated deletion-<=2 " +
    "neighborhood, and short keys don't trip the descending-sequence " +
    "edge") {
    val s = spark
    import s.implicits._
    val got = Seq("abc").toDF("k")
      .select(Entity.deletionKeys(col("k"), 2).as("d"))
      .head().getSeq[String](0).toSet
    assert(got == Set("abc", "bc", "ac", "ab", "c", "b", "a"))
    // L=1: the i<j double-deletion set is empty, not a crash
    val one = Seq("x").toDF("k")
      .select(Entity.deletionKeys(col("k"), 2).as("d"))
      .head().getSeq[String](0).toSet
    assert(one == Set("x", ""))
  }

  test("tau=2 resolve: every lev<=2 pair shape (sub+sub, sub+del, " +
    "del+del, ins+ins) merges — the deletion-2 blocking guarantee — " +
    "while the lev-3 control stays unresolved") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "1234567", "n1234567", "A"),
      (2L, "1934867", "n1934867", "A"),   // sub at 2 + sub at 5
      (3L, "123457", "n123457", "A"),     // del 6 + sub? no: del only -> lev 1
      (4L, "13457", "n13457", "A"),       // del 2 + del 6 (lev 2 from 1)
      (5L, "991234567", "n991234567", "A"), // ins+ins (lev 2 from 1)
      (6L, "1204567", "n1204567", "A"),   // sub at 3 (lev 1)
      (7L, "9934967", "n9934967", "A")    // lev 3 from 1 - control
    ).toDF("rid", "key", "name", "blk")
    val got = Entity.resolve(df, "rid", "key", "name", Seq("blk"),
        tau = 2)
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) == 1L, s"sub+sub: $got")
    assert(got(4L) == 1L, s"del+del: $got")
    assert(got(5L) == 1L, s"ins+ins: $got")
    assert(got(3L) == 1L && got(6L) == 1L, s"lev1 still merge: $got")
    // rid 7 is lev 3 from rid 1 but lev 2 from rid 2, so it
    // legitimately chains into the component — the negative control
    // must be a key far from EVERY member:
    val far = Seq((8L, "5550001", "n5550001", "A")).toDF("rid", "key",
      "name", "blk")
    val got2 = Entity.resolve(df.unionByName(far), "rid", "key",
        "name", Seq("blk"), tau = 2)
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(8L) == 8L, s"far key must stay its own entity: $got2")
  }

  test("candidatePairsSplit2 is complete: on a random corpus its " +
    "candidate set contains EVERY lev<=2 pair the brute-force cross " +
    "join finds (the D<=2 x D<=1 + 3-segment pigeonhole argument)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    // random base keys over a 4-char alphabet (dense lev<=2 space)
    // plus planted 1- and 2-edit variants of each shape
    def rk(n: Int) = (1 to n).map(_ => "abcd"(rnd.nextInt(4))).mkString
    val bases = (0 until 40).map(_ => rk(1 + rnd.nextInt(8)))
    def mut(k: String): String = if (k.isEmpty) "a" else {
      val p = rnd.nextInt(k.length)
      rnd.nextInt(3) match {
        case 0 => k.updated(p, "abcd"(rnd.nextInt(4))) // sub
        case 1 => k.take(p) + k.drop(p + 1)            // del
        case _ => k.take(p) + "abcd"(rnd.nextInt(4)) + k.drop(p) // ins
      }
    }
    val keys = (bases ++ bases.map(mut) ++ bases.map(k => mut(mut(k))))
      .zipWithIndex.map { case (k, i) => (i.toLong, k, "B") }
    val df = keys.toDF("rid", "key", "blk")
    val truth = df.as("a").join(df.as("b"),
        col("a.rid") < col("b.rid") &&
          levenshtein(col("a.key"), col("b.key")) <= 2)
      .select(col("a.rid").as("x"), col("b.rid").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Entity.candidatePairsSplit2(df, "rid", "key", Seq("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- cand
    assert(missed.isEmpty, s"split blocking missed ${missed.size} " +
      s"lev<=2 pairs of ${truth.size}: ${missed.take(5)}")
    // and the full-neighborhood form agrees after the verify: same
    // verified pair set, hence same resolve() partition
    val full = Entity.candidatePairs(df, "rid", "key", Seq("blk"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((truth -- full).isEmpty)
    assert((cand & truth) == (full & truth))
  }

  test("resolveAgainst at tau=2 with a depth-2 index links a " +
    "double-substitution arrival the tau=1 path misses") {
    val s = spark
    import s.implicits._
    val archive = Seq((10L, "1234567", "n1234567", "A"))
      .toDF("rid", "key", "name", "blk")
    val resolved = Entity.resolve(archive, "rid", "key", "name",
      Seq("blk"), tau = 2)
    val index2 = Entity.archiveIndex(resolved, "key", "name",
      Seq("blk"), k = 2)
    val index1 = Entity.archiveIndex(resolved, "key", "name",
      Seq("blk"), k = 1)
    val arrivals = Seq((100L, "1934867", "n1934867", "A"))
      .toDF("rid", "key", "name", "blk")  // sub+sub: lev 2
    def ent(idx: org.apache.spark.sql.DataFrame, tau: Int) =
      Entity.resolveAgainst(idx, arrivals, "rid", "key", "name",
        Seq("blk"), tau = tau).select("entity").head().getLong(0)
    assert(ent(index2, 2) == 10L)   // depth-2 both sides: linked
    assert(ent(index1, 1) == 100L)  // tau=1 path: stays fresh
  }

  test("resolveAgainst keeps null-key arrivals as their own entity " +
    "(batch resolve parity) instead of dropping them") {
    val s = spark
    import s.implicits._
    val archive = Seq((10L, "77123", "n77123", "A"))
      .toDF("rid", "key", "name", "blk")
    val resolved = Entity.resolve(archive, "rid", "key", "name",
      Seq("blk"))
    val index = Entity.archiveIndex(resolved, "key", "name", Seq("blk"))
    val arrivals = Seq(
      (100L, Option("77124"), "n77124", "A"),  // links to 10
      (101L, None: Option[String], "nNull", "A")  // null key
    ).toDF("rid", "key", "name", "blk")
    val got = Entity.resolveAgainst(index, arrivals, "rid", "key",
        "name", Seq("blk"), keep = Seq("blk"))
      .select("rid", "entity", "blk").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(100L -> ((10L, "A")), 101L -> ((101L, "A"))))
    // batch parity: resolve() labels the same null-key record 101
    val batch = Entity.resolve(arrivals, "rid", "key", "name",
        Seq("blk")).select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch(101L) == 101L)
  }

  test("verification gates the blocking: names more than tau apart " +
    "never merge even when keys collide") {
    val s = spark
    import s.implicits._
    // same key (candidate for sure), names lev 5 apart
    val df = Seq(
      (1L, "55555", "alphaaaa", "A"),
      (2L, "55555", "omegazzz", "A")
    ).toDF("rid", "key", "name", "blk")
    val got = Entity.resolve(df, "rid", "key", "name", Seq("blk"))
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 2L)
  }

  test("resolveWith + Jaro-Winkler >= 0.97: single-sub and deletion " +
    "twins link, a double-substitution twin stays separate (the " +
    "graded verify distinguishing what a tau=2 budget lumps)") {
    val s = spark
    import s.implicits._
    // 18-char names on a shared prefix, same blocking key family
    val df = Seq(
      (1L, "1234567890", "Customer#123456789", "A"), // clean
      (2L, "1234567891", "Customer#123456781", "A"), // 1 sub  -> link
      (3L, "123456789",  "Customer#12345678",  "A"), // 1 del  -> link
      (4L, "1234567899", "Customer#123456799", "A"), // 1 sub  -> link
      // 2 subs with NO transposition credit (a swap-like double sub
      // like 12<->74 scores ~0.966-0.989 through jaro's transposition
      // term and WOULD link — correct comparator behavior, wrong
      // negative control)
      (5L, "1204067890", "Customer#120406789", "A")  // 2 subs -> apart
    ).toDF("rid", "key", "name", "blk")
    val got = Entity.resolveWith(df, "rid", "key", "name", Seq("blk"),
        blockK = 2,
        (a, b) => StringSim.jaroWinklerCol(a, b) >= lit(0.97))
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) == got(1L), s"sub twin: $got")
    assert(got(3L) == got(1L), s"del twin: $got")
    assert(got(4L) == got(1L), s"sub twin 2: $got")
    assert(got(5L) != got(1L), s"double-sub must stay apart: $got")
    // the hard tau=2 budget WOULD lump the double-sub twin
    val tau2 = Entity.resolve(df, "rid", "key", "name", Seq("blk"),
        tau = 2)
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tau2(5L) == tau2(1L), s"tau=2 lumps: $tau2")
  }

  test("EntityKeyFns kernel hashes match the column-form xxhash64 of " +
    "deletionKeys exactly (D1/D2 sets), and Probe2/Index2 add the " +
    "position-pair tags — ASCII fast path and non-ASCII slow path") {
    val s = spark
    import s.implicits._
    val keys = Seq("1234567890", "aa", "a", "", "0000000123",
      "caf\u00e9-k\u00e9y", "\u00e9\u00e9", "xyxyxy")
    val df = keys.toDF("k")
    def kernel(mode: Int) = df.select(col("k"),
        EntityKeyExpressions.keyHashesCol(col("k"), mode).as("h"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    // column form: xxhash64 over the string deletion neighborhood
    def hof(k: Int) = df.select(col("k"),
        transform(Entity.deletionKeys(col("k"), k),
          v => xxhash64(v)).as("h"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    // tag hashes: xxhash64(i, j, key minus positions i and j), 1-based
    val tagHof = df.select(col("k"),
        when(length(col("k")) >= 2, flatten(
          transform(sequence(lit(1), length(col("k")) - 1), i =>
            transform(sequence(i + 1, length(col("k"))), j =>
              xxhash64(i, j,
                concat(col("k").substr(lit(1), i - 1),
                  col("k").substr(i + 1, j - i - 1),
                  col("k").substr(j + 1, length(col("k")) - j)))))))
          .otherwise(array().cast("array<bigint>")).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    val d1k = kernel(EntityKeyFns.D1); val d2k = kernel(EntityKeyFns.D2)
    val p2 = kernel(EntityKeyFns.Probe2); val i2 = kernel(EntityKeyFns.Index2)
    val d1c = hof(1); val d2c = hof(2)
    keys.foreach { k =>
      assert(d1k(k) == d1c(k), s"D1 mismatch for '$k'")
      assert(d2k(k) == d2c(k), s"D2 mismatch for '$k'")
      assert(p2(k) == (d2c(k) ++ tagHof(k)), s"Probe2 mismatch for '$k'")
      assert(i2(k) == (d1c(k) ++ tagHof(k)), s"Index2 mismatch for '$k'")
    }
  }

  test("split steady state at tau=2: thin index + records table links " +
    "every lev<=2 arrival shape, name-far/key-close arrivals are " +
    "gated by the verify, null keys survive, and the assignment is " +
    "batch-split invariant") {
    val s = spark
    import s.implicits._
    val archive = Seq(
      (10L, "1234567", "n1234567", "A"),
      (20L, "7654321", "zzzzzzzzzzzz", "A"))  // name unrelated to key
      .toDF("rid", "key", "name", "blk")
    val resolved = Entity.resolve(archive, "rid", "key", "name",
      Seq("blk"), tau = 2)
    val index = Entity.archiveIndexSplit2(resolved, "rid", "key", Seq("blk"))
    val records = Entity.archiveRecords(resolved, "rid", "name")
    // the thin index carries NO name column — the byte win is structural
    assert(index.columns.toSet == Set("blk", "__bk", "__arch_rid"))
    val arrivals = Seq(
      (100L, Option("1934867"), "n1934867", "A"), // sub+sub: links to 10
      (101L, Option("123456"), "n123456", "A"),   // deletion: links to 10
      (102L, Option("7654391"), "n7654391", "A"), // key close to 20, name far: stays fresh
      (103L, Option("9999999"), "n9999999", "A"), // unrelated: fresh
      (104L, None: Option[String], "nNull", "A")  // null key: own entity
    ).toDF("rid", "key", "name", "blk")
    def run(arr: org.apache.spark.sql.DataFrame) =
      Entity.resolveAgainstSplit2(index, records, arr, "rid", "key",
          "name", Seq("blk"), tau = 2)
        .select("rid", "entity").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(arrivals)
    assert(got == Map(100L -> 10L, 101L -> 10L, 102L -> 102L,
      103L -> 103L, 104L -> 104L), s"got $got")
    // batch-split invariance: half-and-half == whole
    val h1 = run(arrivals.where(col("rid") % 2 === 0))
    val h2 = run(arrivals.where(col("rid") % 2 === 1))
    assert((h1 ++ h2) == got)
  }

  test("split tau=2 index persists measurably fewer bytes than the " +
    "full-depth archiveIndex(k=2) at the same recall contract") {
    val s = spark
    import s.implicits._
    // realistic record width: the verify name is a full record string
    // (name + address + city), not a 19-char synthetic — the split
    // form's byte win scales with the name bytes the tag rows shed
    val archive = (0 until 500).map { i =>
      val k = f"${i * 7919 % 10000000000L}%010d"
      (i.toLong, k,
        s"Customer $k, ${i % 997} Elm Street Apt ${i % 53}, " +
          s"Springfield ${i % 89}, sector ${i * 31 % 1009}",
        s"B${i % 5}")
    }.toDF("rid", "key", "name", "blk")
    val resolved = Entity.resolve(archive, "rid", "key", "name",
      Seq("blk"), tau = 2)
    val full = Entity.archiveIndex(resolved, "key", "name", Seq("blk"), k = 2)
    val split = Entity.archiveIndexSplit2(resolved, "rid", "key", Seq("blk"))
    val recs = Entity.archiveRecords(resolved, "rid", "name")
    // measure the RUNTIME row bytes (UnsafeRow) — what actually rides
    // the index probe join's shuffle and hash table at probe time.
    // (Parquet-on-disk is a wash: dictionary encoding stores each
    // repeated name once either way; the join representation doesn't.)
    def rowBytes(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.mapPartitions(it => Iterator.single(
        it.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.UnsafeRow]
          .getSizeInBytes.toLong).sum)).collect().sum
    val fullB = rowBytes(full)
    val splitB = rowBytes(split) + rowBytes(recs)
    assert(splitB < fullB * 6 / 10,
      s"split index $splitB runtime bytes should be <60% of full $fullB")
    // and the probe answers match the full-depth path, label for label
    val arrivals = archive.select((col("rid") + 10000L).as("rid"),
      concat(col("key").substr(lit(1), lit(4)), lit("9"),
        col("key").substr(lit(6), lit(5))).as("key"),
      concat(lit("X"), col("name").substr(lit(2), lit(10000))).as("name"),
      col("blk"))
    val viaFull = Entity.resolveAgainst(
        Entity.archiveIndex(resolved, "key", "name", Seq("blk"), k = 2),
        arrivals, "rid", "key", "name", Seq("blk"), tau = 2)
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSplit = Entity.resolveAgainstSplit2(split, recs, arrivals,
        "rid", "key", "name", Seq("blk"), tau = 2)
      .select("rid", "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSplit == viaFull)
  }
}
