package perfbench

import java.sql.Date
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the seed and
  * a stream index, so one seed always gives byte-identical inputs and the
  * generators know the exact expected output of every job. */
object Gen {
  /** SplitMix64 finalizer over (seed, stream). */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): SplittableRandom = new SplittableRandom(mix(seed, stream))

  private val CommentWords = Array("carefully", "final", "deposits", "sleep",
    "quickly", "express", "packages", "haggle", "furiously", "regular",
    "ideas", "boost", "blithely", "pending", "accounts", "wake", "slyly",
    "bold", "requests", "nag", "silent", "theodolites", "among", "even")

  val LineitemDdl: String =
    """CREATE TABLE lineitem (
      |  l_orderkey BIGINT NOT NULL, l_linenumber INT NOT NULL,
      |  l_partkey BIGINT NOT NULL, l_suppkey BIGINT NOT NULL,
      |  l_quantity DECIMAL(15,2) NOT NULL, l_extendedprice DECIMAL(15,2) NOT NULL,
      |  l_discount DECIMAL(15,2) NOT NULL, l_tax DECIMAL(15,2) NOT NULL,
      |  l_returnflag CHAR(1) NOT NULL, l_shipdate DATE NOT NULL,
      |  l_comment VARCHAR(64) NOT NULL,
      |  PRIMARY KEY (l_orderkey, l_linenumber))""".stripMargin

  /** `rows` lineitem rows (11 columns, four lines per order), computed
    * on the executors from the seed so seeding parallelizes. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    def h(k: Int) = xxhash64(lit(seed), col("id"), lit(k))
    def money(k: Int, mod: Long, scale: Int) =
      (pmod(h(k), lit(mod)) / lit(math.pow(10, scale))).cast(DecimalType(15, 2))
    val words = array(CommentWords.map(lit).toIndexedSeq: _*)
    def word(k: Int) = element_at(words, (pmod(h(k), lit(CommentWords.length.toLong)) + 1).cast("int"))
    spark.range(0, rows, 1, parts).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(1), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(1000L)) + 1).as("l_suppkey"),
      money(3, 50, 0).plus(lit(1)).cast(DecimalType(15, 2)).as("l_quantity"),
      money(4, 10000000L, 2).as("l_extendedprice"),
      money(5, 11, 2).as("l_discount"),
      money(6, 9, 2).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(h(7), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      date_add(lit(Date.valueOf("1992-01-01")), pmod(h(8), lit(2500L)).cast("int")).as("l_shipdate"),
      concat_ws(" ", word(9), word(10), word(11), word(12)).as("l_comment"))
  }

  val OrdersDdl: String =
    """CREATE TABLE orders (
      |  o_orderkey BIGINT NOT NULL PRIMARY KEY, o_custkey BIGINT NOT NULL,
      |  o_orderstatus CHAR(1) NOT NULL, o_totalprice DECIMAL(15,2) NOT NULL,
      |  o_orderdate DATE NOT NULL, o_orderpriority VARCHAR(15) NOT NULL,
      |  o_clerk VARCHAR(15) NOT NULL, o_shippriority INT NOT NULL,
      |  o_comment VARCHAR(79) NOT NULL)""".stripMargin

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DecimalType(15, 2), nullable = false),
    StructField("o_orderdate", DateType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false),
    StructField("o_clerk", StringType, nullable = false),
    StructField("o_shippriority", IntegerType, nullable = false),
    StructField("o_comment", StringType, nullable = false)))

  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One batch of `n` orders rows with strictly increasing keys above
    * `afterKey` (gaps of 1 to 4); returns the rows and the largest key. */
  def ordersBatch(seed: Long, batch: Int, afterKey: Long, n: Int): (Seq[Row], Long) = {
    val r = rng(seed, 1000000L + batch)
    var key = afterKey
    val rows = (0 until n).map { _ =>
      key += 1 + r.nextInt(4)
      val comment = (0 until 3 + r.nextInt(5))
        .map(_ => CommentWords(r.nextInt(CommentWords.length))).mkString(" ")
      Row(key, 1L + r.nextInt(150000), "FOP".charAt(r.nextInt(3)).toString,
        BigDecimal(r.nextLong(100000L, 50000000L), 2).bigDecimal,
        Date.valueOf(java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400).toLong)),
        Priorities(r.nextInt(Priorities.length)),
        f"Clerk#${r.nextInt(1000) + 1}%09d", 0, comment.take(79))
    }
    (rows, key)
  }
}

/** SHA-256 over every generated input record, so runs can show that one
  * seed gives the same inputs and another seed different ones. */
final class InputDigest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(record: String): Unit = md.update((record + "\n").getBytes("UTF-8"))
  def hex: String = md.clone().asInstanceOf[java.security.MessageDigest]
    .digest().map(b => f"$b%02x").mkString
}

/** One JSONL document of a curation drop. */
final case class Doc(id: Long, drop: Int, src: String, text: String) {
  def jsonLine: String =
    Json.render(Json.obj("id" -> id, "drop" -> drop, "src" -> src, "text" -> text))
}

/** A drop plus what the dedup pipeline must keep from it. */
final case class Drop(index: Int, files: Seq[Seq[Doc]], expectedIds: Set[Long]) {
  def docs: Seq[Doc] = files.flatten
}

/** Seeded training-text corpus: a synthetic vocabulary, a history corpus
  * that seeds the dedup indexes, and drops that mix fresh documents with
  * planted duplicates whose fate the generator knows:
  *  - fresh: new word sequences, always kept;
  *  - replay: the exact text of an earlier survivor, dropped by the
  *    fingerprint index;
  *  - copy: a fresh document of the same drop re-cased and re-spaced
  *    under a larger id, dropped by in-batch exact dedup;
  *  - edit: an earlier survivor with one word replaced (3-shingle Jaccard
  *    at least 0.85 for 40+ words), dropped by the MinHash index.
  */
final class Corpus(seed: Long, filesPerDrop: Int, docsPerFile: Int) {
  private val vocab: Array[String] = {
    val r = Gen.rng(seed, 7L)
    val syll = Array("ka", "lo", "mi", "nu", "ra", "te", "so", "vi", "de", "pa",
      "gu", "ze", "bo", "fi", "ha", "jo", "we", "ty", "ch", "st")
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 5000)
      out += (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString
    out.toArray
  }
  private var nextId = 1L
  private val survivors = scala.collection.mutable.ArrayBuffer.empty[Doc]

  /** Number of documents kept so far, history included. */
  def keptSoFar: Long = survivors.size.toLong

  private def fresh(r: SplittableRandom, drop: Int): Doc = {
    val n = 40 + r.nextInt(41)
    val text = (0 until n).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")
    val d = Doc(nextId, drop, s"feed-${r.nextInt(4)}", text)
    nextId += 1
    d
  }

  /** `n` fresh documents that seed both dedup indexes. */
  def history(n: Int): Seq[Doc] = {
    val r = Gen.rng(seed, 11L)
    val docs = (0 until n).map(_ => fresh(r, 0))
    survivors ++= docs
    docs
  }

  def drop(d: Int): Drop = {
    val r = Gen.rng(seed, 2000000L + d)
    val total = filesPerDrop * docsPerFile
    val nCopy = total / 10; val nReplay = total / 10; val nEdit = total / 10
    val freshDocs = (0 until total - nCopy - nReplay - nEdit).map(_ => fresh(r, d))
    def withId(text: String) = {
      val doc = Doc(nextId, d, s"feed-${r.nextInt(4)}", text); nextId += 1; doc
    }
    def earlier() = survivors(r.nextInt(survivors.size))
    val copies = (0 until nCopy).map { _ =>
      val words = freshDocs(r.nextInt(freshDocs.size)).text.split(' ')
      withId("  " + (words.head.toUpperCase +: words.tail).mkString("  "))
    }
    val replays = (0 until nReplay).map(_ => withId(earlier().text))
    val edits = (0 until nEdit).map { _ =>
      val words = earlier().text.split(' ')
      val at = words.length / 2
      var w = vocab(r.nextInt(vocab.length))
      while (w == words(at)) w = vocab(r.nextInt(vocab.length))
      withId(words.updated(at, w).mkString(" "))
    }
    val all = freshDocs ++ copies ++ replays ++ edits
    // deterministic shuffle across the drop's files
    val shuffled = all.map(doc => (r.nextLong(), doc)).sortBy(_._1).map(_._2)
    survivors ++= freshDocs
    Drop(d, shuffled.grouped(docsPerFile).toSeq, freshDocs.map(_.id).toSet)
  }
}
