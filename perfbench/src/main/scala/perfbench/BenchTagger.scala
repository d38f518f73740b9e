package perfbench

import java.text.Normalizer

import graft.sources.DocumentSource.{CapitalizedRunTagger, NerTagger, TaggedMention}
import graft.sources.Gazetteer

/**
 * The benchmark's tagger, plugged in through the public `NerTagger` seam.
 * It is `CapitalizedRunTagger` plus one rule: a run whose accent-stripped,
 * upper-cased text is a gazetteer name becomes a LOCATION mention. The
 * capitalized-run tagger alone never emits LOCATION, so without this the
 * location coref passes and the geocoder would see no rows.
 */
object BenchTagger extends NerTagger {
  private val Places: Set[String] = Gazetteer.SampleCountries.map(_.name_upper).toSet

  def key(text: String): String =
    Normalizer.normalize(text, Normalizer.Form.NFD)
      .replaceAll("\\p{InCombiningDiacriticalMarks}+", "").toUpperCase

  def tag(text: String): Seq[TaggedMention] =
    CapitalizedRunTagger.tag(text).map { m =>
      if (Places.contains(key(m.text))) m.copy(mentionType = "LOCATION") else m
    }
}
