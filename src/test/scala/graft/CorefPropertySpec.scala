package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Coref

/**
 * Property comparison of the distributed within-doc person coref against
 * the sequential reference oracle (ReferenceCoref) on random corpora:
 *
 *  1. SUPERSET: every pair the reference merges, we merge (our transitive
 *     segment merge subsumes the reference's mutation-order pairwise merge).
 *  2. VALIDITY: every pair we merge is connected by a chain of sorted-
 *     adjacent close/prefix links (never an arbitrary merge).
 *  3. Conservation: every mention assigned exactly once; entity stats sum.
 *  4. The one type-keyed pass over all three types equals the union of
 *     the per-type passes.
 */
class CorefPropertySpec extends SparkSpec {
  import spark.implicits._

  private val nameGen: Gen[String] = for {
    first <- Gen.oneOf("JOHN", "JON", "JOHAN", "ANA", "ANNA", "MARIA", "MARIO",
      "JOSE", "JOSEF", "EVA", "IVAN")
    lastOpt <- Gen.option(Gen.oneOf("SMITH", "SMITB", "SMYTH", "DIAZ", "DIAS",
      "NUNEZ", "NUNES", "PEREZ", "PERES"))
    // Suffixes make 3-level prefix chains (FIRST / FIRST LAST / FIRST LAST
    // SUFFIX) reachable: the reference chain-merges all three
    // (CorefBase.groovy:108-119 skips the count bump for extensions of the
    // detected full name), which the fold guard must reproduce.
    suffixOpt <- Gen.option(Gen.oneOf("JR", "SR", "III"))
  } yield lastOpt.fold(first)(l =>
    suffixOpt.fold(s"$first $l")(sf => s"$first $l $sf"))

  private def corpus(seed: Long): Seq[(Long, Long, String, String)] = {
    val docGen = Gen.listOfN(24, nameGen)
    val docs = (0 until 6).map { d =>
      docGen(Gen.Parameters.default, Seed(seed * 100 + d)).getOrElse(Nil)
    }
    docs.zipWithIndex.flatMap { case (names, d) =>
      names.zipWithIndex.map { case (n, i) =>
        (d.toLong, d.toLong * 1000 + i, "PERSON", n)
      }
    }
  }

  test("distributed within-doc coref is a valid transitive superset of the reference") {
    (1L to 5L).foreach { seed =>
      val rows = corpus(seed)
      val df = rows.toDF("doc_id", "mention_id", "mention_type", "text")
      val result = Coref.withinDoc(df, Coref.WithinDocParams.person)

      // mention → cluster of the distributed run
      val assign = result.assignment.as[(Long, Long)].collect().toMap
      assert(assign.size == rows.size, "every mention assigned exactly once")

      val byDoc = rows.groupBy(_._1)
      byDoc.foreach { case (doc, ms) =>
        val ref = ReferenceCoref.withinDocPerson(ms.map(_._4))
        // reference: normalized text -> surviving key
        val refKeyOf: Map[String, String] = ref.flatMap { case (k, members) =>
          members.distinct.map(_ -> k)
        }
        // ours: normalized text -> entity id (via each mention)
        val ourKeyOf: Map[String, Long] = ms.map { m =>
          ReferenceCoref.normalize(m._4) -> assign(m._2)
        }.toMap

        // 1. SUPERSET: same reference cluster ⇒ same entity in ours.
        refKeyOf.groupBy(_._2).values.foreach { texts =>
          val ents = texts.keys.map(ourKeyOf).toSet
          assert(ents.size == 1,
            s"doc $doc: reference cluster ${texts.keys} split into $ents (seed $seed)")
        }

        // 2. VALIDITY: our clusters are unions of sorted-adjacent chains —
        // each our-cluster is a contiguous run of the sorted distinct texts.
        val sortedTexts = ms.map(m => ReferenceCoref.normalize(m._4))
          .filter(_.nonEmpty).distinct.sorted
        ourKeyOf.groupBy(_._2).values.foreach { grp =>
          val idxs = grp.keys.map(sortedTexts.indexOf).toSeq.sorted
          assert(idxs.zip(idxs.tail).forall { case (a, b) => b == a + 1 },
            s"doc $doc: non-contiguous cluster ${grp.keys} (seed $seed)")
        }
      }

      // 3. Stats conservation.
      val sumMentions = result.entities.agg(sum("num_mentions")).as[Long].head()
      assert(sumMentions == rows.size)
    }
  }

  test("loc pass (digit guard + fn folding together) is a valid superset of the oracle") {
    // Location names exercise the one combination person/org miss:
    // matchNumbersExactly AND firstnameMerge both on (WithinDocLocCoref).
    val locGen = for {
      base <- Gen.oneOf("ZONA", "ZONE", "BARRIO", "SECTOR", "SECTOS")
      num <- Gen.option(Gen.choose(10, 13))
      sfx <- Gen.option(Gen.oneOf("NORTE", "SUR"))
    } yield base + num.fold("")(n => s" $n") + sfx.fold("")(s => s" $s")

    (1L to 5L).foreach { seed =>
      val docs = (0 until 4).map { d =>
        Gen.listOfN(20, locGen)(Gen.Parameters.default, Seed(seed * 70 + d))
          .getOrElse(Nil)
      }
      val rows = docs.zipWithIndex.flatMap { case (names, d) =>
        names.zipWithIndex.map { case (n, i) =>
          (d.toLong, d.toLong * 1000 + i, "LOCATION", n)
        }
      }
      val result = Coref.withinDoc(
        rows.toDF("doc_id", "mention_id", "mention_type", "text"),
        Coref.WithinDocParams.location)
      val assign = result.assignment.as[(Long, Long)].collect().toMap
      assert(assign.size == rows.size)

      rows.groupBy(_._1).foreach { case (doc, ms) =>
        val ref = ReferenceCoref.withinDocPerson(ms.map(_._4),
          matchNumbers = true, firstnameMerge = true)
        val refKeyOf = ref.flatMap { case (k, mem) => mem.distinct.map(_ -> k) }
        val ourKeyOf: Map[String, Long] = ms.map { m =>
          ReferenceCoref.normalize(m._4) -> assign(m._2)
        }.toMap
        refKeyOf.groupBy(_._2).values.foreach { texts =>
          val ents = texts.keys.map(ourKeyOf).toSet
          assert(ents.size == 1,
            s"doc $doc: reference loc cluster ${texts.keys} split into $ents (seed $seed)")
        }
      }
    }
  }

  test("org pass (digit guard, no fn folding) agrees with the sequential oracle") {
    val orgGen = for {
      base <- Gen.oneOf("UNIT", "SQUAD", "SQUAT", "TEAM", "TEAN", "ACME", "ACMF")
      num <- Gen.option(Gen.choose(10, 13))
    } yield num.fold(base)(n => s"$base $n")

    (1L to 5L).foreach { seed =>
      val docs = (0 until 4).map { d =>
        Gen.listOfN(20, orgGen)(Gen.Parameters.default, Seed(seed * 50 + d))
          .getOrElse(Nil)
      }
      val rows = docs.zipWithIndex.flatMap { case (names, d) =>
        names.zipWithIndex.map { case (n, i) =>
          (d.toLong, d.toLong * 1000 + i, "ORGANIZATION", n)
        }
      }
      val result = Coref.withinDoc(
        rows.toDF("doc_id", "mention_id", "mention_type", "text"),
        Coref.WithinDocParams.organization)
      val assign = result.assignment.as[(Long, Long)].collect().toMap
      assert(assign.size == rows.size)

      rows.groupBy(_._1).foreach { case (doc, ms) =>
        val ref = ReferenceCoref.withinDocPerson(ms.map(_._4),
          matchNumbers = true, firstnameMerge = false)
        val refKeyOf = ref.flatMap { case (k, mem) => mem.distinct.map(_ -> k) }
        val ourKeyOf = ms.map(m =>
          ReferenceCoref.normalize(m._4) -> assign(m._2)).toMap
        // digit guard: reference cluster ⇒ same entity in ours (superset)
        refKeyOf.groupBy(_._2).values.foreach { texts =>
          assert(texts.keys.map(ourKeyOf).toSet.size == 1,
            s"doc $doc seed $seed: ${texts.keys} split")
        }
        // and: entities never merge texts whose digit runs differ
        ourKeyOf.groupBy(_._2).values.foreach { grp =>
          val runs = grp.keys.map("""\d+""".r.findAllIn(_).toList).toSet
          assert(runs.size == 1,
            s"doc $doc seed $seed: digit guard violated in ${grp.keys}")
        }
      }
    }
  }

  test("distributed across-doc coref agrees with the sequential reference oracle") {
    val entGen = for {
      name <- nameGen
      digits <- Gen.option(Gen.choose(1, 99))       // digits → weak (charset)
      m <- Gen.choose(1L, 3L)
    } yield ReferenceCoref.Ent(
      digits.fold(name)(d => s"$name $d"), m)

    (1L to 5L).foreach { seed =>
      val ents = (0 until 80).flatMap(i =>
        entGen(Gen.Parameters.default, Seed(seed * 1000 + i)))
      val input = ents.zipWithIndex.map { case (e, i) =>
        (i.toLong, i.toLong % 20, "PERSON", e.text, "within_doc_person_coref",
          e.numMentions, 1L)
      }.toDF("entity_id", "doc_id", "entity_type", "entity_text",
        "created_by", "num_mentions", "num_docs")

      val mine = Coref.acrossDoc(input, Coref.AcrossDocParams.person)
      val ref = ReferenceCoref.acrossDocPerson(ents)

      // Map: input entity_id → new entity row (text, created_by).
      val newEnts = mine.entities
        .select("entity_id", "entity_text", "created_by", "num_docs", "num_mentions")
        .as[(Long, String, String, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      val assign = mine.assignment.as[(Long, Long)].collect().toMap
      assert(assign.size == ents.size, "every input entity remapped exactly once")

      val textOf = ents.zipWithIndex.map { case (e, i) => i.toLong -> e.text }.toMap

      // 1. Weak routing: reference weak keys ⇔ our weak-tagged entities.
      val ourWeakTexts = newEnts.values
        .filter(_._3 == "weak_across_doc_person_coref").map(_._2).toSet
      assert(ourWeakTexts == ref.weak.map(_._1).toSet, s"seed $seed weak set")

      // 2. Superset: each reference-merged cluster lands in ONE our-entity,
      //    tagged across_doc; stats match when the partitions coincide.
      ref.merged.foreach { case (survivor, members) =>
        val ids = input.as[(Long, Long, String, String, String, Long, Long)]
          .collect().filter(r => members.exists(_.text == r._4)).map(_._1)
        val targets = ids.map(assign).toSet
        assert(targets.size == 1,
          s"seed $seed: reference cluster '$survivor' split across $targets")
        val target = newEnts(targets.head)
        assert(target._3 == "across_doc_person_coref")
        if (target._4 == members.size) { // identical partition → exact stats
          assert(target._5 == members.map(_.numMentions).sum,
            s"seed $seed: num_mentions for '$survivor'")
        }
      }

      // 3. Conservation of mentions across the whole pass.
      val totalIn = ents.map(_.numMentions).sum
      val totalOut = mine.entities.agg(sum("num_mentions")).as[Long].head()
      assert(totalOut == totalIn)
    }
  }

  test("one type-keyed pass equals the union of the per-type passes") {
    // Per doc: random persons, digit-run orgs built from person first names
    // (their texts sort next to the person keys), random locations, plus
    // fixed rows: one text tagged PERSON and LOCATION in the same doc, and
    // a location first-name fold (ZONA → ZONA NORTE).
    val mentionGen = Gen.oneOf(
      nameGen.map(("PERSON", _)),
      for (first <- Gen.oneOf("JOHN", "JON", "ANA", "ANNA"); n <- Gen.choose(10, 12))
        yield ("ORGANIZATION", s"$first $n"),
      Gen.oneOf("ZONA", "ZONE", "ZONA NORTE", "SECTOR 10", "SECTOR 11").map(("LOCATION", _)))
    val fixed = Seq(("PERSON", "San Marcos"), ("LOCATION", "san marcos"),
      ("LOCATION", "Zona"), ("LOCATION", "Zona Norte"), ("ORGANIZATION", "JOHN 12"))
    val within = Coref.WithinDocParams.all
    val across = Coref.AcrossDocParams.all
    // Each side is computed once (localCheckpoint), then compared as
    // multisets: exceptAll empty both ways.
    def same(fused: DataFrame, perType: Seq[DataFrame], what: String): Unit = {
      val (a, b) = (fused.localCheckpoint(), perType.reduce(_.unionByName(_)).localCheckpoint())
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)
    }

    (1L to 2L).foreach { seed =>
      val rows = (0 until 5).flatMap { d =>
        val drawn = Gen.listOfN(16, mentionGen)(Gen.Parameters.default, Seed(seed * 90 + d))
          .getOrElse(Nil)
        (fixed ++ drawn).zipWithIndex.map { case ((t, text), i) =>
          (d.toLong, d.toLong * 1000 + i, t, text)
        }
      }
      val df = rows.toDF("doc_id", "mention_id", "mention_type", "text")

      val fusedW = Coref.withinDocAll(df, within)
      val fusedA = Coref.acrossDocAll(fusedW.entities, across)
      val typeW = within.map(Coref.withinDoc(df, _))
      val typeA = typeW.zip(across).map { case (w, a) => Coref.acrossDoc(w.entities, a) }
      same(fusedW.entities, typeW.map(_.entities), s"seed $seed: within entities")
      same(fusedW.assignment, typeW.map(_.assignment), s"seed $seed: within assignment")
      same(fusedA.entities, typeA.map(_.entities), s"seed $seed: across entities")
      same(fusedA.assignment, typeA.map(_.assignment), s"seed $seed: across assignment")

      // The shared text stays one entity per type, and the fold happened.
      val texts = fusedA.entities.select("entity_type", "entity_text")
        .as[(String, String)].collect().toSet
      assert(texts(("PERSON", "SAN MARCOS")) && texts(("LOCATION", "SAN MARCOS")))
      assert(texts(("LOCATION", "ZONA NORTE")) && !texts(("LOCATION", "ZONA")),
        s"seed $seed: ZONA must fold into ZONA NORTE")
    }
  }
}
