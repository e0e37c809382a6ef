package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of the seed: the same seed gives
  * byte-identical FASTA, TSV and query mix, and another seed gives others.
  */
class GenSpec extends AnyFunSuite {

  private def surveillanceText(seed: Long): (String, String, String) = {
    val sv = Gen.surveillance(seed, nGenomes = 60, nSeqs = 12, daySize = 8)
    val fasta = Gen.fasta(sv.base.map(_.g)) + Gen.fasta(sv.day.batch.genomes)
    val tsv = sv.day.updateTsv
    val burst = sv.day.burst.map(_.argv("DB").mkString(" ")).mkString("\n")
    (fasta, tsv, burst)
  }

  private def matchMix(seed: Long): String = {
    val specs = Gen.matchSpecs(seed, poolSize = 1000)
    Gen.matchMix(seed, specs.size, cycles = 3)
      .map(i => (if (specs(i).cli) "cli " else "count ") + specs(i).argv("DB").mkString(" "))
      .mkString("\n")
  }

  test("same seed gives byte-identical FASTA, TSV and query mix") {
    assert(surveillanceText(7) == surveillanceText(7))
    assert(matchMix(7) == matchMix(7))
  }

  test("a different seed gives a different FASTA, TSV and query mix") {
    val (f1, t1, b1) = surveillanceText(7)
    val (f2, t2, b2) = surveillanceText(8)
    assert(f1 != f2)
    assert(t1 != t2)
    assert(b1 != b2)
    assert(matchMix(7) != matchMix(8))
  }

  test("the add batch's expected counts follow from its genomes") {
    val sv = Gen.surveillance(3, nGenomes = 60, nSeqs = 12, daySize = 8)
    val b = sv.day.batch
    assert(b.added == 8 && b.skipped == 1 && b.genomes.size == 9)
    assert(b.newSeqs == 6) // 6 fresh mutants; 2 new genomes reuse stored sequences
    val stored = sv.base.map(_.g).toSet
    assert(b.genomes.count(stored) == 1) // resubmitted unchanged
    assert(b.genomes.count(g => stored.exists(_.seq == g.seq)) == 3)
    assert(b.genomes.map(_.accession).distinct.size == b.genomes.size)
  }

  test("the match mix runs every shape once per cycle and keeps the N-ambiguity shape") {
    val specs = Gen.matchSpecs(5, poolSize = 1000)
    val mix = Gen.matchMix(5, specs.size, cycles = 2)
    assert(mix.grouped(specs.size).forall(_.sorted == specs.indices))
    assert(specs.exists(_.name == "n_ambiguity"))
    assert(specs.exists(q => q.tier == "point") && specs.exists(q => q.tier == "scan"))
    assert(specs.exists(_.cli) && specs.exists(!_.cli))
  }

  test("pool ranks 0 and 1 are S:D614G and S:N501Y") {
    val p = Gen.pool(11, 100)
    assert(p(0).dna == "A23403G" && p(0).aa.contains("S:D614G"))
    assert(p(1).dna == "A23063T" && p(1).aa.contains("S:N501Y"))
    assert(p.map(_.pos).distinct.size == p.size)
  }
}
