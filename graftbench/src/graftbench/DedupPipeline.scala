package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Engine
import graft.api.GraftFrame
import graft.operators.Dedup
import graft.sources.Versioned

final case class Doc(id: Long, text: String, group: Int)

/** Seeded text corpus: `groups` base documents of `Words` words drawn
  * from a `Vocab`-word vocabulary, each followed by `copies` near-copies
  * with one word replaced by a word from outside that vocabulary. Ids
  * run group by group, so document `id` belongs to group
  * `id / (copies + 1)`. */
object Corpus {
  val Vocab = 5000
  val Words = 60
  val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def word(i: Int): String = "w" + Integer.toString(i, 36)

  def generate(seed: Long, groups: Int, copies: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed)
    (0 until groups).flatMap { g =>
      val base = Array.fill(Words)(rnd.nextInt(Vocab))
      (0 to copies).map { c =>
        val w = base.clone()
        if (c > 0) w(rnd.nextInt(Words)) = Vocab + rnd.nextInt(Vocab)
        Doc(g.toLong * (copies + 1) + c, w.map(word).mkString(" "), g)
      }
    }
  }
}

/** LLM-data dedup workload over a 13.75k-document corpus of 1,250 planted
  * near-duplicate groups, written as versioned tables: MinHash-LSH
  * pairs, connected-component clusters, repeated n-gram removal
  * published as a versioned table, and bloom decontamination against an
  * eval set. Each check asserts that what the generator planted is
  * found. */
final class DedupPipeline(spark: SparkSession, scale: Double) extends Workload {
  val Groups = (1250 * scale).toInt
  val Copies = 10
  val EvalPlanted = Groups / 50

  private var dir = ""
  private var docs: IndexedSeq[Doc] = IndexedSeq.empty
  private var planted: Set[Int] = Set.empty
  private var engine: Engine = _
  private var pairs: Array[Row] = Array.empty
  private var inputBytes = 0L
  private var cleanBytes = 0L
  private def clean = s"$dir/clean"

  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 8), Corpus.schema)

  def setup(dir: String, seed: Long): Unit = {
    this.dir = dir
    docs = Corpus.generate(seed, Groups, Copies)
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    planted = Iterator.continually(rnd.nextInt(Groups)).distinct
      .take(EvalPlanted).toSet
    // eval docs: a 30-word snippet of each planted group's base doc, and
    // as many docs of words no corpus document uses
    val snippets = planted.toSeq.sorted.map { g =>
      val ws = docs(g * (Copies + 1)).text.split(" ")
      val at = rnd.nextInt(ws.length - 30)
      ws.slice(at, at + 30).mkString(" ")
    }
    val fresh = Seq.fill(EvalPlanted)(Seq.fill(Corpus.Words)(
      Corpus.word(2 * Corpus.Vocab + rnd.nextInt(Corpus.Vocab))).mkString(" "))
    Versioned.commit(frame(docs.map(d => Row(d.id, d.text))), s"$dir/corpus",
      append = false): Unit
    Versioned.commit(frame((snippets ++ fresh).zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t) }), s"$dir/eval", append = false): Unit
    // an 8-byte id plus the (ASCII) text of every corpus and eval doc
    inputBytes = (docs.map(_.text) ++ snippets ++ fresh).map(_.length + 8L).sum
    cleanBytes = 0
  }

  def cycleS: Double = 9.5
  def storedDirs: Seq[String] = Seq(s"$dir/corpus", s"$dir/eval", clean)
  // the inputs, plus the published rows: 8-byte id, text, 4-byte count
  def userBytes: Long = inputBytes + cleanBytes

  def release(): Unit = {
    docs = IndexedSeq.empty
    planted = Set.empty
    pairs = Array.empty
  }

  override def prepare(h: Harness): Unit = engine = Engine(spark, dir)

  private def group(id: Long): Int = (id / (Copies + 1)).toInt

  /** On traced statements, the blocks the operators left staged. */
  private def staged(h: Harness): Unit =
    if (h.probing) h.add("operators.staged_mb", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0)

  /** Free the staged blocks between statements, so each starts alike. */
  private def unstage(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def corpus(h: Harness): DataFrame =
    Sql.plan(h, engine, s"SELECT id, text FROM '$dir/corpus'").df

  /** An operator call: build the plan, then run its action through the
    * engine's frame API. */
  private def op(h: Harness, name: String)(build: => DataFrame): Seq[Row] = {
    val out = h.span(s"operators.$name.build")(build)
    val rows = h.span(s"operators.$name.exec")(h.span("engine.exec")(
      new GraftFrame(out).collect()))
    staged(h)
    rows
  }

  def cycle: IndexedSeq[Harness => Unit] = IndexedSeq(
    (h: Harness) => {
      var got: Seq[Row] = Nil
      h.stmt("minhash_lsh", "read") {
        got = op(h, "minhash_lsh")(
          Dedup.minhashLsh(corpus(h), "text", "id", shingleN = 1))
        docs.length.toLong
      }.foreach { _ =>
        pairs = got.toArray
        h.check("minhash pairs stay inside planted groups")(
          got.forall(r => group(r.getLong(0)) == group(r.getLong(1))))
        // LSH is approximate: a copy whose one edit moves the minimum in
        // all four bands finds no partner (p ~ 0.3% with 4 x 8 bands)
        h.check("minhash pairs find at least 99% of planted documents")(
          got.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length >=
            0.99 * docs.length)
      }
      unstage()
    },
    (h: Harness) => {
      var got: Seq[Row] = Nil
      val input = spark.createDataFrame(
        spark.sparkContext.parallelize(pairs.toSeq.map(r => Row(r.getLong(0), r.getLong(1))), 8),
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
      h.stmt("clusters", "read") {
        got = op(h, "clusters")(Dedup.clusters(input))
        pairs.length.toLong
      }.foreach { _ =>
        // LSH again: copies sharing an edit that moved every band's
        // minimum pair only with each other, splitting their group
        h.check("no cluster spans two planted groups")(
          got.groupBy(_.getLong(1)).values.forall(_.map(r => group(r.getLong(0))).distinct.size == 1))
        h.check("at least 99% of planted groups are exactly one cluster")(
          got.groupBy(r => group(r.getLong(0))).values
            .count(_.map(_.getLong(1)).distinct.size == 1) >= 0.99 * Groups)
      }
      unstage()
    },
    (h: Harness) => {
      // the pipeline's output: the cleaned corpus, published as a new
      // version of a versioned table
      h.stmt("remove_dup_ngrams", "write") {
        val out = h.span("operators.remove_dup_ngrams.build")(
          Dedup.removeDuplicatedNgrams(corpus(h), "text", "id"))
        h.span("operators.remove_dup_ngrams.exec")(
          Storage.account(h, spark, Seq(clean), inputBytes)(h.span("sources.commit")(
            Versioned.commit(out.select("id", "clean_text", "n_removed"), clean,
              append = false): Unit)))
        staged(h)
        docs.length.toLong
      }.foreach { _ =>
        h.check("repeated n-grams of the planted copies are removed") {
          val r = Versioned.read(spark, clean).agg(F.count(F.lit(1)),
            F.sum("n_removed"), F.sum(F.length(F.col("clean_text")))).collect().head
          cleanBytes = 12 * r.getLong(0) + r.getLong(2)
          r.getLong(0) == docs.length &&
            r.getLong(1) >= 0.9 * docs.length * Corpus.Words
        }
      }
      unstage()
    },
    (h: Harness) => {
      var got: Seq[Row] = Nil
      h.stmt("decontaminate_bloom", "read") {
        val eval = Sql.plan(h, engine, s"SELECT id, text FROM '$dir/eval'").df
        got = op(h, "decontaminate_bloom")(
          Dedup.decontaminateBloom(corpus(h), "text", "id", eval, "text")
            .select("id"))
        docs.length.toLong
      }.foreach { _ =>
        h.check("decontamination flags exactly the planted groups")(
          got.map(_.getLong(0)).toSet == docs.filter(d => planted(d.group))
            .map(_.id).toSet)
      }
      unstage()
    })
}
