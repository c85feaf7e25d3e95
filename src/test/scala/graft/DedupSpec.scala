package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** X1/X3 dedup family: exact content dedup, shingle-kernel equivalence
  * with the composable HOF form, MinHash recall on a known near-dup,
  * SimHash self-consistency. */
class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
  private val nearDup = base.replace("lazy", "sleepy") // 1-word edit
  private val other = "completely different content with no overlap at all in any shingle here"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, other), (4L, base) // 4 = exact dup of 1
  ).toDF("doc_id", "text")

  test("X1 exactByContent groups exact duplicates under one digest") {
    val out = Dedup.exactByContent(docs, "text", "doc_id").collect()
    assert(out.length == 3)
    val dupRow = out.find(_.getLong(2) == 2L).get
    assert(dupRow.getLong(1) == 1L) // keep_id = min(doc_id)
  }

  test("X1 survivorsByContent == exactByContent + join-back, carry columns intact") {
    val withW = docs.withColumn("w", org.apache.spark.sql.functions.length($"text").cast("long"))
    val got = Dedup.survivorsByContent(withW, "text", "doc_id", Seq("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the two-pass form this op replaces
    val keep = Dedup.exactByContent(withW, "text", "doc_id")
      .select($"keep_id".as("doc_id"))
    val ref = withW.join(keep, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref)
    assert(got.map(_._1) == Set(1L, 2L, 3L)) // 4 deduped into 1 (min id)
  }

  test("X1 dedupAgainstSeen: drops known digests, compacts within the batch, idempotent") {
    val seenDocs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val seen = seenDocs.select(Dedup.contentHash(col("text")).as("content_hash")).distinct()
    val batch = Seq(
      (10L, "alpha"), // already in the store -> dropped
      (11L, "gamma"), (12L, "gamma"), // in-batch dup -> one row, keep_id=11
      (13L, "delta")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstSeen(batch, seen, "text", "doc_id")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(11L -> 2L, 13L -> 1L))
    // feeding the admitted digests back into the store admits nothing new
    val grown = seen.unionByName(
      Dedup.dedupAgainstSeen(batch, seen, "text", "doc_id").select("content_hash"))
    assert(Dedup.dedupAgainstSeen(batch, grown, "text", "doc_id").count() == 0L)
  }

  test("X1 firstPerKey keeps exactly the lowest-ordered row per key") {
    val df = Seq(("a", 3L), ("a", 1L), ("b", 2L)).toDF("k", "id")
    val out = Dedup.firstPerKey(df, Seq("k"), Seq("id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 1L, "b" -> 2L))
  }

  test("shingle kernel == composable form hashed (same xxhash64 seed, join, dedup)") {
    val viaKernel = docs.select(col("doc_id"),
      graft.expr.WordShingleHashes(col("text"), 3, distinct = true).as("h"))
    val viaHof = docs.select(col("doc_id"),
      array_distinct(transform(Dedup.wordShingles(col("text"), 3), s => xxhash64(s))).as("h"))
    val joined = viaKernel.as("k").join(viaHof.as("f"), "doc_id")
      .select(col("k.h").as("kh"), col("f.h").as("fh")).collect()
    joined.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("X3 MinHash finds the near-dup pair and not the unrelated doc") {
    // bands=16/rows=2: the 1-word-edit pair sits at Jaccard≈0.6 where the
    // default 8×4 S-curve recalls only ~67%; 16×2 recalls >99.9% (and the
    // outcome is deterministic for the fixed hash family).
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text",
        bands = 16, rows = 2, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup caught
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never passes verify
  }

  test("X3 estimate prefilter: exact dups survive any cutoff; conservative cutoff keeps the verified set") {
    val base = Dedup.minHashNearDups(docs, "doc_id", "text",
        bands = 16, rows = 2, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a cutoff well below minJaccard prunes only banding noise — every
    // verified pair survives
    val conservative = Dedup.minHashNearDups(docs, "doc_id", "text",
        bands = 16, rows = 2, minJaccard = 0.3, estPrefilter = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(conservative == base)
    // exact dups have identical signatures: estimate 1.0, any cutoff passes
    val strict = Dedup.minHashNearDups(docs, "doc_id", "text",
        bands = 16, rows = 2, minJaccard = 0.3, estPrefilter = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((1L, 4L)))
    assert(strict.subsetOf(base))
    // the cutoff is a pinned value: negative cutoffs are rejected
    intercept[IllegalArgumentException] {
      Dedup.minHashNearDups(docs, "doc_id", "text", estPrefilter = -1.0)
    }
  }

  test("X3 jaccard: exact dup = 1.0, near-dup in (0,1)") {
    val sh = docs.select(col("doc_id"),
      graft.expr.WordShingleHashes(col("text"), 3, distinct = true).as("h"))
    val j = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.jaccard(col("a.h"), col("b.h")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.3 && j((1L, 2L)) < 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("clusterPairs: components via min-label propagation, incl. a chain") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val out = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("clusterPairs == reference union-find on seeded random graphs") {
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(12) {
        val a = rnd.nextInt(12).toLong
        val b = (a + 1 + rnd.nextInt(11)) % 12 // b != a
        (math.min(a, b), math.max(a, b))
      }.distinct
      val got = Dedup.clusterPairs(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      assert(got == want, s"seed=$seed edges=$edges")
    }
  }

  test("survivorsAfterNearDedup keeps one per cluster plus singletons") {
    val universe = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.survivorsAfterNearDedup(universe, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("survivorsAfterNearDedup with ZERO candidate pairs keeps everything") {
    // a chunk with no near-dups is a legal production case — must not NPE
    val universe = Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("doc_id")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val kept = Dedup.survivorsAfterNearDedup(universe, "doc_id", empty)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("X3 SimHash: exact dups hamming 0; verified pairs only") {
    val out = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 4L)) == 0L)
    assert(!out.contains((1L, 3L)))
  }

  test("editDistancePairsDeletes == editDistancePairs (SymSpell completeness)") {
    // random-ish short strings, several blocks, plenty of dist-0/1/2
    // and far pairs; the two candidate generators must verify to the
    // SAME pair set
    val rng = new scala.util.Random(7)
    val base = Seq("acme corp", "zenith ltd", "widget co", "nadir inc")
    val recs = (0 until 120).map { i =>
      val s0 = base(rng.nextInt(base.length))
      val mutated = rng.nextInt(4) match {
        case 0 => s0
        case 1 => s0.drop(1) // dist 1
        case 2 => s0.updated(rng.nextInt(s0.length), 'x') // dist ≤ 1
        case _ => rng.nextString(8).map(c => ('a' + (c % 26).abs).toChar) // far
      }
      (i.toLong, mutated, s"B${i % 3}")
    }
    val df = recs.toDF("id", "name", "blk")
    def pairSet(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dict = pairSet(Dedup.editDistancePairs(df, "id", "name", Seq("blk"), 2))
    val dels = pairSet(Dedup.editDistancePairsDeletes(df, "id", "name", Seq("blk"), 2))
    assert(dict == dels, s"missing=${dict -- dels} extra=${dels -- dict}")
    assert(dict.nonEmpty)
    // a generous bucket cap must not lose pairs on a sparse-ish corpus
    val capped = pairSet(Dedup.editDistancePairsDeletes(df, "id", "name", Seq("blk"), 2,
      maxBucket = 1000))
    assert(capped == dict)
    // an absurdly tight cap degrades recall but never invents pairs
    val tight = pairSet(Dedup.editDistancePairsDeletes(df, "id", "name", Seq("blk"), 2,
      maxBucket = 1))
    assert(tight.subsetOf(dict))
  }

  test("editDistancePairs: blocked Levenshtein pairs, each unordered pair once") {
    val recs = Seq(
      (1L, "acme corp", "US"), (2L, "acme corp.", "US"), (3L, "acme co", "US"),
      (4L, "zenith ltd", "US"), // same block, too far from the acmes
      (5L, "acme corp", "DE") // exact name but different block ⇒ never paired
    ).toDF("id", "name", "country")
    val got = Dedup.editDistancePairs(recs, "id", "name", Seq("country"), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 2L) -> 1L, // trailing dot
      (1L, 3L) -> 2L)) // corp → co; (2,3) is dist 3 ⇒ over maxDist, dropped
    assert(!got.keys.exists { case (a, b) => a >= b }, "pairs must be ordered a<b")
  }

  test("X3x duplicatedSpans: cross-doc spans, coverage union, short docs zero") {
    // doc 2's two spans are BOTH duplicated (pos 0 shared with doc 1,
    // pos 1 with doc 5) and overlap on tokens 1..4 — coverage is the
    // UNION (6 tokens), not 2×5. doc 3 repeats a span only WITHIN
    // itself (minDocs counts distinct docs ⇒ not duplicated). doc 4 is
    // too short for any span.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e f"),
      (3L, "q r s t u x q r s t u"),
      (4L, "a b c"),
      (5L, "b c d e f")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      1L -> (5L, 1L, 1L, 5L),   // its one span is doc 2's prefix
      2L -> (6L, 2L, 2L, 6L),   // overlapping dup spans ⇒ union coverage
      3L -> (11L, 7L, 0L, 0L),  // within-doc repeat only ⇒ zero
      4L -> (3L, 0L, 0L, 0L),   // shorter than n ⇒ no spans
      5L -> (5L, 1L, 1L, 5L)))  // its one span is doc 2's suffix
  }

  test("X3x duplicatedSpans: hash-keyed path == exact-string path") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"), (2L, "x w1 w2 w3 w4 w5"),
      (3L, "w3 w4 w5 w6 w7"), (4L, "unrelated tokens only here now")
    ).toDF("doc_id", "text")
    val h = Dedup.duplicatedSpans(d, "doc_id", "text", 5, keyByHash = true)
      .orderBy("doc_id").collect().toSeq
    val s = Dedup.duplicatedSpans(d, "doc_id", "text", 5, keyByHash = false)
      .orderBy("doc_id").collect().toSeq
    assert(h == s)
  }

  test("X3x scrubDuplicatedSpans: canonical copy survives, echoes cut, order kept") {
    // "a b c d e" lives in docs 1, 2, 5 ⇒ owner 1 keeps it; doc 2 loses
    // tokens 0-4 but keeps its trailing "f"; doc 5 is scrubbed to ''.
    // doc 3's repeat is within-doc only ⇒ untouched; doc 4 is shorter
    // than n ⇒ untouched.
    val docsS = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e f"),
      (3L, "q r s t u x q r s t u"),
      (4L, "a b c"),
      (5L, "a b c d e")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubDuplicatedSpans(docsS, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == Map(
      1L -> (5L, 0L, "a b c d e"),
      2L -> (6L, 5L, "f"),
      3L -> (11L, 0L, "q r s t u x q r s t u"),
      4L -> (3L, 0L, "a b c"),
      5L -> (5L, 5L, "")))
  }

  test("X3x scrubDuplicatedSpans: overlapping spans with different owners") {
    // doc 3 carries doc 1's span (pos 0) and doc 2's span (pos 1),
    // overlapping on tokens 1-4: owned by OTHERS at every cover ⇒ all
    // six tokens cut. Docs 1 and 2 each own their span ⇒ untouched.
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "b c d e f"),
      (3L, "a b c d e f")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubDuplicatedSpans(d, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == Map(
      1L -> (5L, 0L, "a b c d e"),
      2L -> (5L, 0L, "b c d e f"),
      3L -> (6L, 6L, "")))
  }

  test("X3x boilerplateScrub: per-group threshold, order preserved, all-boilerplate doc empties") {
    val d = Seq(
      // siteA: 'NAV' tops all three docs (boilerplate at minDocs=3);
      // 'foot' is in only two (kept); bodies unique
      (1L, "siteA", "NAV\nbody one\nfoot"),
      (2L, "siteA", "NAV\nbody two\nfoot"),
      (3L, "siteA", "NAV\nbody three"),
      // siteB: same literal 'NAV' line but only two docs — grouped
      // census means it survives on siteB
      (4L, "siteB", "NAV\nother body"),
      (5L, "siteB", "NAV\nanother body"),
      // siteA doc that is ONLY the boilerplate line
      (6L, "siteA", "NAV")
    ).toDF("doc_id", "site", "text")
    val got = Dedup.boilerplateScrub(d, "doc_id", "text", "site", minDocs = 3)
      .orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got == Map(
      1L -> (3L, 1L, "body one\nfoot"),
      2L -> (3L, 1L, "body two\nfoot"),
      3L -> (2L, 1L, "body three"),
      4L -> (2L, 0L, "NAV\nother body"),
      5L -> (2L, 0L, "NAV\nanother body"),
      6L -> (1L, 1L, "")))
    // NAV appears in 4 siteA docs ≥ 3, removed there; 2 siteB docs < 3, kept
  }

  test("X3x scrubDuplicatedSpans: hash-keyed path == exact-string path") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"), (2L, "x w1 w2 w3 w4 w5"),
      (3L, "w3 w4 w5 w6 w7"), (4L, "unrelated tokens only here now")
    ).toDF("doc_id", "text")
    val h = Dedup.scrubDuplicatedSpans(d, "doc_id", "text", 5, keyByHash = true)
      .orderBy("doc_id").collect().toSeq
    val s = Dedup.scrubDuplicatedSpans(d, "doc_id", "text", 5, keyByHash = false)
      .orderBy("doc_id").collect().toSeq
    assert(h == s)
  }

  test("hammingPairs recall contract: nBlocks−1 guaranteed by pigeonhole; " +
      "maxHamming beyond that is opportunistic verify slack") {
    // Hamming-8 pair with two flipped bits in EVERY 16-bit block — the
    // adversarial case the default 4-block channel documents it misses
    val spread = Seq((1L, 0L), (2L, 0x0003000300030003L)).toDF("id", "fp")
    assert(Dedup.hammingPairs(spread, "id", "fp", maxHamming = 8).count() == 0)
    // nBlocks = maxHamming + 1 buys the guarantee: 8 flips cannot dirty
    // all 9 blocks, so some block matches exactly
    val hit = Dedup.hammingPairs(spread, "id", "fp", maxHamming = 8,
      nBlocks = 9).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hit == Seq((1L, 2L)))
    // the default's stated radius-3 guarantee: 3 flips in one block
    // leave three clean blocks
    val close = Seq((1L, 0L), (2L, 7L)).toDF("id", "fp")
    assert(Dedup.hammingPairs(close, "id", "fp", maxHamming = 3).count() == 1)
    // and a pair past the verify radius never survives even as candidate
    val far = Seq((1L, 0L), (2L, -1L)).toDF("id", "fp") // Hamming 64
    assert(Dedup.hammingPairs(far, "id", "fp", maxHamming = 8,
      nBlocks = 9).count() == 0)
  }

  test("b-bit minwise: exact duplicates estimate 1.0 in every channel; " +
      "disjoint docs sit near 0 in expectation") {
    val d = Seq(
      (1L, base), (2L, base),        // exact dup pair
      (3L, other), (4L, other)       // another dup pair, disjoint from 1/2
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.bbitMinhashEstimate(d, "doc_id", "text", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // identical docs: identical signatures -> every estimator says 1.0
    assert(out((1L, 2L)) == ((1000000L, 1000000L, 1000000L)))
    assert(out((3L, 4L)) == ((1000000L, 1000000L, 1000000L)))
    // disjoint docs: exact 0; estimators are unbiased draws around 0
    // (b-bit per-pair sigma at 64 bits is 0.125 — allow 4 sigma)
    val (jx, mf, mb) = out((1L, 3L))
    assert(jx == 0L)
    assert(math.abs(mf) <= 500000L && math.abs(mb) <= 500000L)
  }

  test("decontaminate: flags exactly the train docs sharing >= " +
      "minCollisions n-grams with the bench set; scrub keeps the " +
      "complement; worst offender ties break to the lower bench id") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")
    ).toDF("doc_id", "text")
    val train = Seq(
      // shares "the quick brown", "quick brown fox" … with bench 100
      (1L, "note the quick brown fox ran away"),
      // shares one 3-gram with EACH bench doc
      (2L, "pack my box and the lazy dog slept"),
      // clean
      (3L, "completely unrelated training content here"),
      // shares with both; MORE grams with 101 → worst = 101
      (4L, "pack my box with five dozen eggs over the lazy dog")
    ).toDF("doc_id", "text")
    val flagged = Dedup.decontaminate(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("train_id") ->
        ((r.getAs[Long]("n_bench_docs"), r.getAs[Long]("n_collisions"),
          r.getAs[Long]("worst_bench_id")))).toMap
    assert(flagged.keySet == Set(1L, 2L, 4L), s"flagged: $flagged")
    assert(flagged(1L)._1 == 1 && flagged(1L)._3 == 100L)
    // doc 2: "pack my box" (101) + "the lazy dog" (100) — one gram
    // each, tie on count → worst breaks to the LOWER bench id
    assert(flagged(2L) == ((2L, 2L, 100L)), s"doc 2: ${flagged(2L)}")
    assert(flagged(4L)._1 == 2 && flagged(4L)._3 == 101L)
    // scrub = complement
    val kept = Dedup.scrubContaminated(train, bench, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
    // a higher collision bar unflags the single-gram-per-bench doc 2
    val strict = Dedup.decontaminate(train, bench, "doc_id", "text",
        n = 3, minCollisions = 2L)
      .collect().map(_.getAs[Long]("train_id")).toSet
    assert(strict == Set(1L, 4L), s"strict: $strict")
  }
}
