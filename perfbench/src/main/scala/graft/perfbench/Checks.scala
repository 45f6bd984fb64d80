package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Synthesizer
import graft.query.{Bm25IndexTables, Bm25Search}

/** One ranked answer row. */
final case class Hit(qid: Long, docId: Long, rank: Int, score: Double)

/** Correctness checks, run outside the timed window. */
object Checks {

  def hits(ranking: DataFrame): Seq[Hit] = hitsOf(ranking.collect().toSeq)

  def hitsOf(rows: Seq[Row]): Seq[Hit] = rows.map { r =>
    Hit(r.getAs[Number]("qid").longValue, r.getAs[Number]("doc_id").longValue,
      r.getAs[Number]("rank").intValue, r.getAs[Number]("score").doubleValue)
  }

  def byQid(hs: Seq[Hit]): Map[Long, Seq[Hit]] =
    hs.groupBy(_.qid).map { case (q, v) => q -> v.sortBy(_.rank) }

  /** A seeded sample of `n` distinct qids. */
  def sample(qids: Seq[Long], n: Int, seed: Long): Seq[Long] =
    new scala.util.Random(seed).shuffle(qids.distinct.sorted).take(n)

  /** Reference rows from the unpruned distributed plan. */
  def reference(spark: SparkSession, index: Bm25IndexTables, queries: Seq[(Long, String)],
                k: Int): Map[Long, Seq[Hit]] =
    byQid(hits(Bm25Search.searchFull(Bench.batchFrame(spark, queries), index, k)))

  /** Per sampled qid: are the answer rows exactly the reference rows? */
  def sameRows(answers: Map[Long, Seq[Hit]], ref: Map[Long, Seq[Hit]],
               qids: Seq[Long]): Seq[Boolean] =
    qids.map(q => answers.getOrElse(q, Seq.empty) == ref.getOrElse(q, Seq.empty))

  /** Expected doc id of every planted-term query (`Synthesizer.queries`
    * kind 0: `plant<n> …` names page 7n) whose page is English and so
    * indexed. `docsDirs` are the docs tables that map urls to doc ids. */
  def plantedTargets(spark: SparkSession, docsDirs: Seq[String],
                     queries: Seq[(Long, String)]): Map[Long, Long] = {
    val Plant = """plant(\d+)""".r
    val wanted = queries.flatMap { case (qid, text) =>
      text.split(' ').collectFirst { case Plant(n) => qid -> Synthesizer.url(n.toLong * 7) }
    }
    if (wanted.isEmpty) Map.empty
    else {
      val urls = wanted.map(_._2).distinct
      val ids = docsDirs.map(d => spark.read.parquet(d).select(col("url"), col("doc_id")))
        .reduce(_ unionByName _)
        .filter(col("url").isin(urls: _*))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      wanted.flatMap { case (qid, url) => ids.get(url).map(qid -> _) }.toMap
    }
  }

  /** Per planted query: is its planted doc in the top-k? */
  def planted(answers: Map[Long, Seq[Hit]], targets: Map[Long, Long]): Seq[Boolean] =
    targets.toSeq.sortBy(_._1).map { case (qid, doc) =>
      answers.getOrElse(qid, Seq.empty).exists(_.docId == doc)
    }

  /** Are two rankings of the same queries over differently numbered
    * copies of one corpus equal? Docs are compared by url. Scores and
    * their order must match exactly; only docs tied on one score may
    * trade places (ties break on doc id, and renumbering moves ids), and
    * a tie group cut by k may keep different members. */
  def sameRankingByUrl(a: Map[Long, Seq[Hit]], urlA: Long => String,
                       b: Map[Long, Seq[Hit]], urlB: Long => String): Seq[Boolean] =
    (a.keySet ++ b.keySet).toSeq.sorted.map { q =>
      val ha = a.getOrElse(q, Seq.empty)
      val hb = b.getOrElse(q, Seq.empty)
      val scoresEqual = ha.map(_.score) == hb.map(_.score) && ha.map(_.rank) == hb.map(_.rank)
      val cut = if (ha.isEmpty) Double.NegativeInfinity else ha.map(_.score).min
      def groups(hs: Seq[Hit], url: Long => String) =
        hs.filter(_.score > cut).groupBy(_.score).map { case (s, v) => s -> v.map(h => url(h.docId)).toSet }
      scoresEqual && groups(ha, urlA) == groups(hb, urlB)
    }

  /** doc id → url over the given docs tables, for the given ids. */
  def urls(spark: SparkSession, docsDirs: Seq[String], ids: Seq[Long]): Map[Long, String] =
    if (ids.isEmpty) Map.empty
    else docsDirs.map(d => spark.read.parquet(d).select(col("doc_id"), col("url")))
      .reduce(_ unionByName _)
      .filter(col("doc_id").isin(ids.distinct: _*))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private val HitJson =
    """"pid":(-?\d+),"rank":(\d+),"score":([-+0-9.eE]+|NaN|-?Infinity)""".r

  /** (doc id, rank, score) rows of a `/api/search` reply, as qid `qid`. */
  def parseReply(qid: Long, body: String): Seq[Hit] =
    HitJson.findAllMatchIn(body).map { m =>
      Hit(qid, m.group(1).toLong, m.group(2).toInt, m.group(3).toDouble)
    }.toSeq
}
