package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sinks.SearchIndex

/**
 * The read side VizLinc serves from the written artifacts: keyword search,
 * exact phrase search, and entity browse. Every query has an answer the
 * benchmark computes once, by brute force over the generated document text
 * and the collected mention table, and each served answer must equal it.
 */
object Serve {

  sealed trait Query { def span: String }
  /** Documents holding every term, with the summed term frequency. */
  final case class Conjunctive(terms: Seq[String]) extends Query {
    def span = "SearchIndex.searchConjunctive"
  }
  /** Documents holding the exact phrase, with the occurrence count. */
  final case class Phrase(terms: Seq[String]) extends Query {
    def span = "SearchIndex.searchPhrase"
  }
  /** A person name → the documents mentioning it and the persons they
    * also mention, through the `entity` and `document_entity` tables. */
  final case class Browse(name: String) extends Query {
    def span = "RelationalExport.browse"
  }

  type Answer = Seq[String]

  /** Index tokens, as `SearchIndex.build` splits them. */
  private def tokens(text: String): Array[String] = text.split("\\s+")
  private def indexable(t: String): Boolean = t.length >= 2

  /**
   * A seeded query mix drawn from the corpus itself. The kinds take turns
   * and keep one shape each — a two-term keyword search (a planted name
   * token when there is one, and a filler word), a two-token phrase from
   * some document, a browse of a planted full name — so rounds cost about
   * the same on every seed. Without planted names, browse asks for a pool
   * name that no document holds.
   */
  def queries(g: Corpus.Generated, n: Int, seed: Long): IndexedSeq[Query] = {
    val rnd = new Random(seed ^ 0x5eed5eedL)
    val names = g.truth.map(_.surface).flatMap(tokens).filter(indexable)
    val fullNames = Some(g.persons.map(_.surface).filter(_.contains(' ')))
      .filter(_.nonEmpty)
      .getOrElse(new Corpus.Pools(seed).persons.take(10).map(p => s"${p._1} ${p._2}"))
    def vocab(): String = Iterator.continually(
      Corpus.Vocabulary(rnd.nextInt(Corpus.Vocabulary.size))).filter(indexable).next()
    IndexedSeq.tabulate(n) { i =>
      i % 3 match {
        case 0 =>
          val first = if (names.nonEmpty) names(rnd.nextInt(names.size)) else vocab()
          Conjunctive(Seq(first, vocab()))
        case 1 =>
          Iterator.continually {
            val toks = tokens(g.docs(rnd.nextInt(g.docs.size)).text)
            val at = rnd.nextInt(toks.length - 1)
            toks.slice(at, at + 2).toSeq
          }.find(_.forall(indexable)).map(Phrase).get
        case _ =>
          Browse(BenchTagger.key(fullNames(rnd.nextInt(fullNames.size))))
      }
    }
  }

  /** Serve `q` from the artifacts. */
  def run(spark: SparkSession, a: Artifacts, q: Query): Answer = q match {
    case Conjunctive(terms) =>
      SearchIndex.searchConjunctive(spark, s"${a.indexDir}/search_index", terms)
        .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").toSeq.sorted
    case Phrase(terms) =>
      SearchIndex.searchPhrase(spark, s"${a.indexDir}/search_index_positional", terms)
        .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").toSeq.sorted
    case Browse(name) =>
      val entity = spark.read.parquet(s"${a.outDir}/entity").filter(col("type") === "PERSON")
      val docEntity = spark.read.parquet(s"${a.outDir}/document_entity")
      val target = entity.filter(col("text") === name).select("entity_id")
      val docs = docEntity.join(target, "entity_id").select("document_id").distinct()
      val coPersons = docEntity.join(docs, "document_id")
        .join(entity, "entity_id")
        .join(target, Seq("entity_id"), "left_anti")
        .select("text").distinct()
      (docs.collect().map(r => s"d:${r.getLong(0)}") ++
        coPersons.collect().map(r => s"p:${r.getString(0)}")).toSeq.sorted
  }

  /** Brute-force answers: document text scans and the mention table. */
  final class Oracle(g: Corpus.Generated, t: Checks.Tables) {
    private val docTokens: IndexedSeq[(Long, Array[String])] =
      g.docs.map(d => t.docId(d.name) -> tokens(d.text))

    def answer(q: Query): Answer = q match {
      case Conjunctive(terms) =>
        val want = terms.distinct
        docTokens.flatMap { case (id, toks) =>
          val tf = want.map(w => toks.count(_ == w))
          if (tf.forall(_ > 0)) Some(s"$id:${tf.sum}") else None
        }.sorted
      case Phrase(terms) =>
        docTokens.flatMap { case (id, toks) =>
          val n = toks.sliding(terms.size).count(_.sameElements(terms))
          if (n > 0) Some(s"$id:$n") else None
        }.sorted
      case Browse(name) =>
        val ids = t.entity.collect { case (e, Checks.Entity("PERSON", `name`, _, _, _)) => e }.toSet
        val docs = t.resolved.collect { case (d, e) if ids(e) => d }.toSet
        val co = t.resolved.collect {
          case (d, e) if docs(d) && !ids(e) && t.entity.get(e).exists(_.tpe == "PERSON") =>
            t.entity(e).text
        }.toSet
        (docs.toSeq.map(d => s"d:$d") ++ co.toSeq.map(p => s"p:$p")).sorted
    }
  }
}
