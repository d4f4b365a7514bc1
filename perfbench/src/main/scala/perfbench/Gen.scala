package perfbench

import graft.index.ChangeLog
import graft.tools.ScaleRehearsal
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.Random

/** Seeded input generator over the `documents` fixture (sf0.1, 5,000
  * docs, shipped as `perfbench/fixtures/documents_sf0.1.parquet`). The
  * corpus is fixed: the fixture's first [[Gen.BaseDocs]] docs by
  * `doc_id`, multiplied with the library's own deterministic blow-up
  * (`ScaleRehearsal.blowUpDocs`), the way the fixtures are scaled
  * elsewhere. The run's `--seed` draws everything the client sends:
  * questions and change batches, whose new texts are fixture docs left
  * out of the corpus. The program sees only the generated tables. */
final class Gen(fixture: IndexedSeq[(Long, String)], seed: Long) {

  private val rnd = new Random(seed)

  /** The base corpus `(doc_id, text)`. */
  val baseDocs: IndexedSeq[(Long, String)] = fixture.take(Gen.BaseDocs)

  /** Fixture texts outside the corpus: the texts of inserts and updates. */
  private val spareTexts: IndexedSeq[String] = fixture.drop(Gen.BaseDocs).map(_._2)

  private def spareText(): String = spareTexts(rnd.nextInt(spareTexts.size))

  /** A question built from one document's words (so it has an answer in
    * the corpus), shuffled and truncated. */
  def question(docs: IndexedSeq[(Long, String)]): String = {
    val words = rnd.shuffle(docs(rnd.nextInt(docs.size))._2.split(" ").toSeq)
    words.take(4 + rnd.nextInt(5)).mkString(" ")
  }

  /** One change batch against `live` (pk → text), applied to `live` as a
    * side effect so the benchmark's own replay stays the source of truth:
    * about half updates that rewrite text, a quarter deletes and a
    * quarter inserts of fresh pks. `__op`/`__seq` follow
    * [[graft.index.ChangeLog]]. */
  def changeBatch(size: Int, live: ReplayState): Seq[(Long, String, String, Long)] = {
    val out = Seq.newBuilder[(Long, String, String, Long)]
    val touched = scala.collection.mutable.Set[Long]()
    var i = 0
    while (i < size) {
      val r = rnd.nextDouble()
      val seq = live.nextSeq()
      if (r < 0.25) {
        val pk = live.freshPk()
        val t = spareText()
        live.put(pk, t)
        out += ((pk, t, ChangeLog.OpInsert, seq))
        i += 1
      } else {
        val pk = live.randomPk(rnd)
        if (!touched(pk)) { // one change per pk per batch keeps the replay unambiguous
          touched += pk
          if (r < 0.5) {
            live.remove(pk)
            out += ((pk, null, ChangeLog.OpDelete, seq))
          } else {
            val t = spareText()
            live.put(pk, t)
            out += ((pk, t, ChangeLog.OpUpdate, seq))
          }
          i += 1
        }
      }
    }
    out.result()
  }
}

/** The benchmark's replay of the source table: pk → text, with O(1)
  * random choice of a live pk. */
final class ReplayState(initial: Iterable[(Long, String)]) {
  private val text = scala.collection.mutable.HashMap[Long, String]()
  private val keys = scala.collection.mutable.ArrayBuffer[Long]()
  private val slot = scala.collection.mutable.HashMap[Long, Int]()
  private var seq = 0L
  private var next = 0L
  initial.foreach { case (k, t) => put(k, t) }

  def put(pk: Long, t: String): Unit = {
    if (!text.contains(pk)) { slot(pk) = keys.size; keys += pk }
    text(pk) = t
    next = math.max(next, pk + 1)
  }
  def remove(pk: Long): Unit = if (text.remove(pk).isDefined) {
    val i = slot.remove(pk).get
    val last = keys.remove(keys.size - 1)
    if (last != pk) { keys(i) = last; slot(last) = i }
  }
  def contains(pk: Long): Boolean = text.contains(pk)
  def randomPk(rnd: Random): Long = keys(rnd.nextInt(keys.size))
  def freshPk(): Long = next
  def nextSeq(): Long = { seq += 1; seq }
  def rows: Map[Long, String] = text.toMap
  def size: Int = text.size
}

object Gen {
  /** Fixture docs in the base corpus, before the blow-up. */
  val BaseDocs = 1250

  /** The fixture's `(doc_id, text)` rows in `doc_id` order. */
  def readFixture(spark: SparkSession, path: String): IndexedSeq[(Long, String)] =
    spark.read.parquet(path).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toIndexedSeq

  def docsFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** `factor` copies of the base rows through the library's blow-up,
    * written under `path` as parquet and read back, so the program reads
    * its input from files like a real source table. */
  def blownUpDocs(spark: SparkSession, base: DataFrame, factor: Int, path: String): DataFrame = {
    ScaleRehearsal.blowUpDocs(base, factor).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The docs the blow-up produces, replayed locally (copy i: id + i·stride,
    * text + " rehearsal<i>"), so ground truth never reads the program's output. */
  def blownUpDocsLocal(base: IndexedSeq[(Long, String)], factor: Int): IndexedSeq[(Long, String)] = {
    val stride = base.map(_._1).max + 1
    (0 until factor).flatMap { i =>
      if (i == 0) base else base.map { case (id, t) => (id + i * stride, s"$t rehearsal$i") }
    }
  }
}
