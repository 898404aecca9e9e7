package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One `corpusUpsert` increment and the doc ids of each kind in it. */
final case class Increment(rows: Seq[Row], uniques: Seq[Long], copies: Seq[Long],
                           twins: Seq[(Long, Long)])

/** Seeded increments against a published corpus, in the mix the corpus
  * write tests use: unique docs (a survivor's words in reverse order),
  * verbatim copies of survivors, near copies (first word replaced) and
  * within-increment twins (one new text under two ids).
  */
object Increments {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("lang", StringType), StructField("text", StringType)))

  def apply(spark: SparkSession, corpus: String, docsDir: String, seed: Long,
            k: Int): Seq[Increment] = {
    val survivors = spark.read.parquet(s"$corpus/shards.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val maxId = spark.read.parquet(s"$docsDir/documents.parquet")
      .agg(org.apache.spark.sql.functions.max("doc_id")).head.getLong(0)
    val rnd = new scala.util.Random(seed)
    // each survivor seeds at most one derived doc, so no two increments
    // offer the same new text by accident
    val pool = rnd.shuffle(survivors.toSeq).iterator
    // long survivors keep near copies above the near-duplicate threshold
    val longPool = rnd.shuffle(survivors.filter(_._3.split(" ").length >= 60).toSeq).iterator
    def take() = { require(pool.hasNext, "corpus too small for the increments"); pool.next() }
    var next = maxId + 1
    def id(): Long = { next += 1; next }
    def reversed(t: String) = t.split(" ").reverse.mkString(" ")
    (0 until k).map { i =>
      val src = s"src_inc$i"
      val uniques = (0 until 1 + rnd.nextInt(4)).map { _ => val (_, l, t) = take(); (id(), l, reversed(t)) }
      val copies = (0 until 1 + rnd.nextInt(2)).map { _ => val (_, l, t) = take(); (id(), l, t) }
      val nears = (0 until rnd.nextInt(2)).flatMap { _ =>
        if (longPool.hasNext) {
          val (_, l, t) = longPool.next()
          Some((id(), l, ("zzzqx" +: t.split(" ").drop(1)).mkString(" ")))
        } else None
      }
      val twins = (0 until 1 + rnd.nextInt(2)).map { _ =>
        val (_, l, t) = take()
        ((id(), l, reversed(t)), (id(), l, reversed(t)))
      }
      val all = uniques ++ copies ++ nears ++ twins.flatMap(p => Seq(p._1, p._2))
      Increment(rnd.shuffle(all).map { case (d, l, t) => Row(d, src, l, t) },
        uniques.map(_._1), copies.map(_._1), twins.map(p => (p._1._1, p._2._1)))
    }
  }
}
