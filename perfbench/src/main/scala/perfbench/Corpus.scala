package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.sources.Gazetteer

/**
 * Seeded corpus generator for the ingest benchmark.
 *
 * Filler text follows the `documents` table of the sf0.1 test data: a
 * 30-word lowercase vocabulary drawn uniformly (plus the rare token
 * `dup`), 10 to 99 words per document. That text carries no names at
 * all — every word is lowercase, and the customer/supplier/nation names
 * of the same data set are `Customer#…`, `Supplier#…` and `NATION_k`,
 * none of which the capitalized-run tagger reads as a name or the
 * gazetteer knows. So person and organization surface forms are
 * synthesized from the seed, and locations are the gazetteer's own
 * country names.
 *
 * Person and organization identities are drawn Zipf-like from seeded
 * pools; locations uniformly from the gazetteer's countries, so each one
 * recurs across documents and can be geocoded. Each planted mention
 * takes one surface form: the full name, the first name only, a
 * one-character typo, an accented form, or a case change. Planted names
 * are always separated by at least one lowercase filler word, so two
 * capitalized runs never fuse into one mention.
 *
 * Documents are written as a nested `.txt` tree under `corpusDir`; the
 * ground truth (relative path, char offset → identity) stays in memory
 * and in `truth.tsv` beside, not inside, the corpus directory.
 */
object Corpus {

  final case class Spec(
      docs: Int,
      personMentions: Int,
      orgMentions: Int,
      locMentions: Int)

  /** One planted mention: where it is and who it really is. */
  final case class Planted(relPath: String, start: Int, stop: Int,
      kind: String, identity: Int, surface: String) {
    /** The file name, unique within a corpus. */
    def name: String = relPath.substring(relPath.lastIndexOf('/') + 1)
  }

  final case class Doc(relPath: String, text: String) {
    def name: String = relPath.substring(relPath.lastIndexOf('/') + 1)
  }

  final case class Generated(docs: IndexedSeq[Doc], truth: IndexedSeq[Planted]) {
    def persons: IndexedSeq[Planted] = truth.filter(_.kind == "PERSON")
  }

  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  val PersonPool = 2000
  val OrgPool = 300
  val Countries: IndexedSeq[String] = Gazetteer.SampleCountries.map(_.name_upper).toIndexedSeq

  private val Syllables = IndexedSeq(
    "ba", "be", "bo", "ca", "co", "da", "de", "di", "fa", "fe", "ga", "gi",
    "ka", "la", "le", "li", "lo", "ma", "me", "mi", "mo", "na", "ne", "ni",
    "pa", "pe", "ra", "re", "ri", "ro", "sa", "se", "so", "ta", "te", "to",
    "va", "ve", "vi", "za")

  /** Name pools are a function of the seed only. */
  final class Pools(seed: Long) {
    private val rnd = new Random(seed * 7919L + 17L)
    private def word(minSyl: Int, maxSyl: Int): String =
      Iterator.continually {
        val n = minSyl + rnd.nextInt(maxSyl - minSyl + 1)
        (0 until n).map(_ => Syllables(rnd.nextInt(Syllables.size))).mkString
      }.dropWhile(w => w.length < 3).next()

    private def distinct(n: Int, make: () => String): IndexedSeq[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < n) seen += make()
      seen.toIndexedSeq
    }

    val firstNames: IndexedSeq[String] = distinct(300, () => word(2, 3).capitalize)
    val lastNames: IndexedSeq[String] = distinct(PersonPool, () => word(2, 4).capitalize)
    /** Person i = (first, last); first names repeat across persons. */
    val persons: IndexedSeq[(String, String)] =
      lastNames.map(l => (firstNames(rnd.nextInt(firstNames.size)), l))
    val orgs: IndexedSeq[String] = distinct(OrgPool, () =>
      if (rnd.nextInt(3) == 0) s"${word(2, 3)} ${word(2, 3)}".toUpperCase
      else word(2, 4).toUpperCase)
  }

  /** Cumulative Zipf(s = 1) weights over ranks 1..n. */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / r)
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Accents = Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ó', 'u' -> 'ú',
    'A' -> 'Á', 'E' -> 'É', 'I' -> 'Í', 'O' -> 'Ó', 'U' -> 'Ú')

  private def accented(s: String, rnd: Random): String = {
    val vowels = s.indices.filter(i => Accents.contains(s(i)))
    if (vowels.isEmpty) s
    else { val i = vowels(rnd.nextInt(vowels.size)); s.updated(i, Accents(s(i))) }
  }

  /** Replace one letter after the first of the last word, keeping its case. */
  private def typo(s: String, rnd: Random): String = {
    val from = s.lastIndexOf(' ') + 2
    val i = from + rnd.nextInt(s.length - from)
    val c = s(i)
    val alphabet = if (c.isUpper) 'A' to 'Z' else 'a' to 'z'
    val repl = Iterator.continually(alphabet(rnd.nextInt(alphabet.size)))
      .dropWhile(_ == c).next()
    s.updated(i, repl)
  }

  private def titleCase(s: String): String =
    s.split(' ').map(w => w.toLowerCase.capitalize).mkString(" ")

  /** A planted mention's surface text; `firstInDoc` forces the full form. */
  private def personSurface(p: (String, String), firstInDoc: Boolean, rnd: Random): String = {
    val full = s"${p._1} ${p._2}"
    if (firstInDoc) full
    else rnd.nextInt(20) match {
      case n if n < 9 => full
      case n if n < 12 => p._1
      case n if n < 15 => typo(full, rnd)
      case n if n < 18 => accented(full, rnd)
      case _ => full.toUpperCase
    }
  }

  private def orgSurface(o: String, rnd: Random): String = rnd.nextInt(20) match {
    case n if n < 12 => o
    case n if n < 15 => typo(o, rnd)
    case n if n < 18 => accented(o, rnd)
    case _ => titleCase(o)
  }

  private def locSurface(c: String, rnd: Random): String = rnd.nextInt(4) match {
    case 0 | 1 => titleCase(c)
    case 2 => c
    case _ => accented(titleCase(c), rnd)
  }

  /** One planted mention to place: type, pool index, surface text. */
  private final case class Plant(kind: String, identity: Int, surface: String)

  def generate(spec: Spec, seed: Long): Generated = {
    val pools = new Pools(seed)
    val rnd = new Random(seed)
    val personZ = new Zipf(PersonPool)
    val orgZ = new Zipf(OrgPool)
    val docs = ArrayBuffer.empty[Doc]
    val truth = ArrayBuffer.empty[Planted]

    def persons(n: Int): Seq[Plant] = if (n == 0) Nil else {
      // A few identities per doc, each mentioned several times; the first
      // mention of each identity is its full name.
      val ids = Seq.fill(math.max(1, n / 3))(personZ.draw(rnd)).distinct
      val seen = scala.collection.mutable.Set.empty[Int]
      Seq.fill(n) {
        val id = ids(rnd.nextInt(ids.size))
        Plant("PERSON", id, personSurface(pools.persons(id), seen.add(id), rnd))
      }
    }
    def orgs(n: Int): Seq[Plant] = Seq.fill(n) {
      val id = orgZ.draw(rnd); Plant("ORGANIZATION", id, orgSurface(pools.orgs(id), rnd))
    }
    def locs(n: Int): Seq[Plant] = Seq.fill(n) {
      val id = rnd.nextInt(Countries.size); Plant("LOCATION", id, locSurface(Countries(id), rnd))
    }

    for (d <- 0 until spec.docs) {
      // Persons keep their per-identity order; the rest interleave.
      val plants = mergeRandomly(persons(spec.personMentions),
        rnd.shuffle(orgs(spec.orgMentions) ++ locs(spec.locMentions)), rnd)
      val nWords = math.max(10 + rnd.nextInt(90), plants.size + 2)
      val words = IndexedSeq.fill(nWords) {
        if (rnd.nextInt(1000) == 0) "dup" else Vocabulary(rnd.nextInt(Vocabulary.size))
      }
      // Names go into distinct interior gaps (after word g, g in 1..n-1),
      // so a lowercase word always separates two names.
      val gaps = rnd.shuffle((1 until nWords).toIndexedSeq).take(plants.size).sorted
      val relPath = f"src${d % 20}%02d/batch${d / 20 % 10}/doc$d%06d.txt"
      val sb = new StringBuilder
      var p = 0
      for (i <- 0 until nWords) {
        if (p < gaps.size && gaps(p) == i) {
          val pl = plants(p)
          sb.append(' ')
          val start = sb.length
          sb.append(pl.surface)
          truth += Planted(relPath, start, sb.length, pl.kind, pl.identity, pl.surface)
          p += 1
        }
        if (sb.nonEmpty) sb.append(' ')
        sb.append(words(i))
      }
      docs += Doc(relPath, sb.toString)
    }
    Generated(docs.toIndexedSeq, truth.toIndexedSeq)
  }

  /** Interleave `b` into `a` at random points, keeping each one's order. */
  private def mergeRandomly[T](a: Seq[T], b: Seq[T], rnd: Random): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    var (i, j) = (0, 0)
    while (i < a.size || j < b.size) {
      val takeA = j >= b.size || (i < a.size && rnd.nextInt(a.size + b.size - i - j) < a.size - i)
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
    }
    out.toSeq
  }

  /** Write the tree under `corpusDir` and the truth sidecar beside it. */
  def write(g: Generated, corpusDir: Path, truthFile: Path): Unit = {
    g.docs.foreach { d =>
      val f = corpusDir.resolve(d.relPath)
      Files.createDirectories(f.getParent)
      Files.write(f, d.text.getBytes(StandardCharsets.UTF_8))
    }
    val lines = g.truth.map(t =>
      s"${t.relPath}\t${t.start}\t${t.stop}\t${t.kind}\t${t.identity}\t${t.surface}")
    Files.write(truthFile, ("path\tstart\tstop\tkind\tidentity\tsurface" +: lines)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
