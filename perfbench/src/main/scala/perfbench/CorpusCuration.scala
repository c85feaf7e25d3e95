package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, length, lower}

import graft.ops.{Dedup, Packing, TextAnalysis}

/** `corpus_curation`: one LLM-data curation pass per batch over a generated
  * corpus: quality gate, exact dedup, MinHash near-dup pairs, near-dup
  * clustering, token-budget shard assignment and a parquet shard write. */
final class CorpusCuration(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val corpus = new Corpus(ctx.seed, ctx.size(6000, 200))
  private val budget = math.max(500L, math.round(25000L * ctx.scale))
  private val input = ctx.sub("input").resolve("corpus.parquet").toString
  private val shards = ctx.sub("shards")

  override def sizes: Map[String, Any] = corpus.sizes ++ Map("shard_token_budget" -> budget)

  override def setup(): Unit = {
    import spark.implicits._
    corpus.docs.toSeq.toDF("doc_id", "text").write.parquet(input)
  }

  // the first pass is cold (codegen, class loading); the next ones still
  // speed up as the JIT compiles
  override def warmups: Int = 3

  override def prepare(b: Int): Unit = ()

  private def out(b: Int): String = shards.resolve(s"pass=$b").toString

  override def run(b: Int, t: Tracer): Unit = {
    val d = spark.read.parquet(input)
    val nt = TextAnalysis.tokenCount(col("text"))
    val stops = TextAnalysis.wordOccurrences(lower(col("text")), TextAnalysis.englishStopwords)
    val kept = t.span("text.quality_gate") {
      t.cut(d.filter(TextAnalysis.qualityGate(nt, length(col("text")).cast("long"), stops))
        .select(col("doc_id"), col("text"), nt.as("n_tokens")))
    }
    val exact = t.span("dedup.exact") {
      t.cut(Dedup.survivorsByContent(kept, "text", "doc_id", Seq("text", "n_tokens")))
    }
    val pairs = t.span("dedup.minhash")(t.cut(Dedup.minHashNearDups(exact, "doc_id", "text")))
    val keep = t.span("dedup.cluster")(t.cut(Dedup.survivorsAfterNearDedup(exact, "doc_id", pairs)))
    val sharded = t.span("packing.assign_shards") {
      t.cut(Packing.assignShards(exact.join(keep, Seq("doc_id"), "left_semi"),
        "doc_id", "n_tokens", budget))
    }
    t.span("tables.shard_write") {
      sharded.write.partitionBy("shard").parquet(out(b))
    }
    t.count("text.docs_in", d.count().toDouble)
    t.count("text.docs_kept", kept.count().toDouble)
    t.count("dedup.exact_kept", exact.count().toDouble)
    if (t.enabled) {
      val found = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      t.count("dedup.pairs", found.length.toDouble)
      t.count("dedup.pairs_true", found.count(corpus.planted).toDouble)
    }
    t.count("dedup.near_kept", keep.count().toDouble)
    t.count("packing.shards", sharded.select("shard").distinct().count().toDouble)
  }

  /** Reads the shards back and checks them against the closed form for the
    * planted corpus: the survivors are the exact-dedup survivors minus the
    * planted near-duplicates the pass found (a missing document that is not
    * a planted near-duplicate is an error), token counts are the generated
    * ones, and every document sits in the shard the token-budget prefix sum
    * over doc_id puts it in. `recall` is the share of planted near-duplicate
    * pairs found. */
  override def verify(b: Int): Check = {
    val rows = spark.read.parquet(out(b))
      .select(col("doc_id"), col("shard").cast("long"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    Fs.deleteTree(java.nio.file.Paths.get(out(b)))
    val got = rows.map(_._1).toSet
    val dropped = corpus.exactSurvivors.filterNot(got)
    val wrongDrops = dropped.filterNot(corpus.isVariant)
    val extra = got.filterNot(corpus.exactSurvivors.contains)
    var cum = 0L
    val expectShard = rows.map { case (id, _, _) =>
      val w = corpus.tokens(id.toInt)
      val s = cum / budget
      cum += w
      s
    }
    val badShards = rows.indices.count(i => rows(i)._2 != expectShard(i))
    val badTokens = rows.count { case (id, _, n) => n != corpus.tokens(id.toInt) }
    val recall = dropped.size.toDouble / corpus.variants
    val ok = wrongDrops.isEmpty && extra.isEmpty && badShards == 0 && badTokens == 0 && recall > 0.5
    Check(ok, recall, s"pass $b: survivors ${rows.length}, planted found ${dropped.size}/" +
      s"${corpus.variants}, wrong drops ${wrongDrops.size}, extra ${extra.size}, " +
      s"misplaced ${badShards}, wrong token counts $badTokens")
  }

  override def close(): Unit = {
    Fs.deleteTree(shards)
    Fs.deleteTree(java.nio.file.Paths.get(input))
  }
}

/** The planted corpus. Documents are drawn from a Zipfian vocabulary with a
  * stopword every eighth token. Ids in order: base documents, exact copies
  * of base documents (5%), near-duplicate variants of distinct base
  * documents with about 5% of their words replaced (10%), and low-quality
  * documents the quality gate rejects (15%): too short, without stopwords,
  * or made of over-long tokens. */
final class Corpus(seed: Long, n: Int) {
  private val rnd = new SplittableRandom(seed)
  private val exactN = n / 20
  private val nearN = n / 10
  private val lowN = n * 15 / 100
  private val baseN = n - exactN - nearN - lowN
  private val vocab = Array.tabulate(20000)(Corpus.word)
  private val cdf = {
    val w = Array.tabulate(vocab.length)(i => 1.0 / (i + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val stopwords = TextAnalysis.englishStopwords.toArray

  private def zipf(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  private def goodDoc(): Array[String] =
    Array.tabulate(40 + rnd.nextInt(121))(k =>
      if (k % 8 == 0) stopwords(rnd.nextInt(stopwords.length)) else zipf())

  private val toks = mutable.ArrayBuffer[Array[String]]()
  /** Near-duplicate variant id -> its base id. */
  private val variantOf = mutable.HashMap[Long, Long]()

  (0 until baseN).foreach(_ => toks += goodDoc())
  (0 until exactN).foreach(_ => toks += toks(rnd.nextInt(baseN)))
  private val sources = {
    val ids = Array.range(0, baseN)
    (0 until nearN).foreach { i => // partial Fisher-Yates: distinct sources
      val j = i + rnd.nextInt(baseN - i)
      val x = ids(i); ids(i) = ids(j); ids(j) = x
    }
    ids.take(nearN)
  }
  sources.foreach { src =>
    val v = toks(src).clone()
    val edits = math.max(1, math.round(v.length * 0.05).toInt)
    var done = 0
    while (done < edits) {
      val k = rnd.nextInt(v.length)
      if (k % 8 != 0) {
        var w = zipf()
        while (w == v(k)) w = zipf()
        v(k) = w
        done += 1
      }
    }
    variantOf(toks.size.toLong) = src.toLong
    toks += v
  }
  (0 until lowN).foreach { i =>
    toks += (i % 3 match {
      case 0 => Array.fill(1 + rnd.nextInt(4))(zipf())
      case 1 => Array.fill(30 + rnd.nextInt(71))(zipf())
      case _ => Array.tabulate(20 + rnd.nextInt(41))(k =>
        if (k % 8 == 0) stopwords(rnd.nextInt(stopwords.length))
        else Array.fill(20 + rnd.nextInt(11))(('a' + rnd.nextInt(26)).toChar).mkString)
    })
  }

  def docs: Iterator[(Long, String)] = toks.iterator.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
  def tokens(id: Int): Long = toks(id).length.toLong
  def variants: Int = nearN
  def isVariant(id: Long): Boolean = variantOf.contains(id)
  def planted(p: (Long, Long)): Boolean = variantOf.get(p._2).contains(p._1)
  /** Ids that survive the quality gate and exact dedup: base documents and
    * near-duplicate variants. */
  val exactSurvivors: Set[Long] =
    ((0L until baseN.toLong) ++ variantOf.keys).toSet

  def sizes: Map[String, Any] = Map("docs" -> n, "base_docs" -> baseN, "exact_copies" -> exactN,
    "near_dup_variants" -> nearN, "low_quality_docs" -> lowN, "vocabulary" -> vocab.length,
    "tokens" -> toks.iterator.map(_.length.toLong).sum)
}

object Corpus {
  private val syllables = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** The i-th vocabulary word: two or three consonant-vowel syllables, so no
    * word is an English stopword. */
  def word(i: Int): String = {
    var x = i + syllables.length
    val b = new StringBuilder
    while (x > 0) { b.insert(0, syllables(x % syllables.length)); x /= syllables.length }
    b.toString
  }
}
