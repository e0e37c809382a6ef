package perfbench

import graft.covsonar.{Genetics, MatchArgs, Reference}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Random

/** Seeded input generators. Every function here is a pure function of its
  * arguments: the same seed gives byte-identical FASTA, TSV and query mix.
  * The engine only ever receives what these functions produce.
  */
object Gen extends Serializable {
  lazy val ref = Reference.sarsCov2
  private def refSeq = ref.refSeq

  /** Independent stream per (seed, purpose, index). */
  def rng(seed: Long, stream: Long, idx: Long = 0L): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (stream * 1000003L + idx))

  final case class Genome(accession: String, description: String, seq: String) {
    def seqhash: String = Genetics.seguid(Genetics.harmonize(seq))
  }

  private val bases = "ACGT"

  /** A mutant of `base`: `snps` substitutions, `indels` short insertions or
    * deletions, and with probability `nRunP` a run of 20–200 Ns. Edits stay
    * 100 bases away from either end.
    */
  def mutant(rnd: Random, base: String, snps: Int, indels: Int, nRunP: Double): String = {
    val sb = new java.lang.StringBuilder(base)
    def pos(): Int = 100 + rnd.nextInt(sb.length - 300)
    for (_ <- 0 until snps) {
      val p = pos()
      val b = sb.charAt(p)
      sb.setCharAt(p, bases.filterNot(_ == b).charAt(rnd.nextInt(3)))
    }
    for (_ <- 0 until indels) {
      val p = pos()
      if (rnd.nextBoolean()) sb.delete(p, p + 1 + rnd.nextInt(9))
      else sb.insert(p, Seq.fill(1 + rnd.nextInt(6))(bases.charAt(rnd.nextInt(4))).mkString)
    }
    if (rnd.nextDouble() < nRunP) {
      val p = pos()
      val len = 20 + rnd.nextInt(180)
      for (i <- p until math.min(p + len, sb.length - 100)) sb.setCharAt(i, 'N')
    }
    sb.toString
  }

  def fasta(genomes: Seq[Genome]): String = {
    val sb = new StringBuilder
    genomes.foreach { g =>
      sb.append('>').append(g.description).append('\n')
      g.seq.grouped(60).foreach(l => sb.append(l).append('\n'))
    }
    sb.toString
  }

  def tsv(header: Seq[String], rows: Seq[Seq[String]]): String =
    (header +: rows).map(_.mkString("\t")).mkString("", "\n", "\n")

  private def genome(acc: String, seq: String) = Genome(acc, s"$acc synthetic genome", seq)

  /** An `add` batch and the `AddReport` counts it must produce. */
  final case class Batch(genomes: Seq[Genome], added: Long, newSeqs: Long, skipped: Long)

  // ---- surveillance ---------------------------------------------------------

  /** Real pango lineages for the surveillance founders (each is a key of the
    * bundled lineage map, so `--with-sublineage` resolves).
    */
  val founderLineages: Seq[String] =
    Seq("B.1.1.7", "Q.1", "Q.3", "B.1.177", "B.1.177.7", "AA.2", "B.1.617.2", "AY.4", "P.1", "B.1.351")

  final case class Sample(g: Genome, lineage: String, date: String, zip: String, lab: String)

  final case class Surveillance(base: Seq[Sample], day: Day)

  /** One scripted day: the batch it adds, the metadata TSV it imports, the
    * match burst it runs, the accessions it restores and the VCF window.
    */
  final case class Day(
      batch: Batch,
      samples: Seq[Sample],
      updateTsv: String,
      burst: Seq[QuerySpec],
      restore: Seq[Genome],
      vcfWindow: String)

  private def day0 = java.time.LocalDate.parse("2021-01-01")
  private def dateOf(d: Int) = day0.plusDays(d).toString

  /** Base store of `nGenomes` genomes over `nSeqs` distinct sequences (ten
    * lineage founders plus private mutations), 60 days of sampling dates,
    * and the scripted day that follows it.
    */
  def surveillance(seed: Long, nGenomes: Int, nSeqs: Int, daySize: Int): Surveillance = {
    val rnd = rng(seed, 3)
    val founders = founderLineages.map(_ => mutant(rnd, refSeq, 25, 0, 0.0))
    val seqs = (0 until nSeqs).map { i =>
      val f = i % founders.size
      (f, mutant(rnd, founders(f), 3, 0, 0.1))
    }
    def sample(acc: String, f: Int, seq: String, day: Int, r: Random) =
      Sample(genome(acc, seq), founderLineages(f), dateOf(day),
        f"${10000 + r.nextInt(90000)}%05d", s"LAB${r.nextInt(10)}")
    val base = (0 until nGenomes).map { i =>
      // squared draw: a few sequences are carried by many genomes
      val u = rnd.nextDouble()
      val (f, seq) = seqs((u * u * nSeqs).toInt)
      sample(s"SV$seed-$i", f, seq, rnd.nextInt(60), rnd)
    }
    val day = {
      val r = rng(seed, 4)
      val date = 60
      val nShared = daySize / 4
      val fresh = (0 until daySize - nShared).map { i =>
        val f = r.nextInt(founders.size)
        sample(s"SD$seed-$i", f, mutant(r, founders(f), 4, 0, 0.1), date, r)
      }
      val stored = base.distinctBy(_.g.seq)
      val shared = (0 until nShared).map { i =>
        val s = stored(r.nextInt(stored.size))
        sample(s"SS$seed-$i", founderLineages.indexOf(s.lineage), s.g.seq, date, r)
      }
      val samples = fresh ++ shared
      // a few stored genomes are submitted again unchanged: add skips them
      val resubmitted = r.shuffle(base.toVector).take(math.max(1, daySize / 20)).map(_.g)
      val baseHashes = base.map(_.g.seqhash).toSet
      val batch = Batch(r.shuffle(samples.map(_.g) ++ resubmitted), samples.size,
        samples.map(_.g.seqhash).distinct.count(h => !baseHashes(h)), resubmitted.size)
      // lineage corrections for some already-stored genomes
      val corrected = r.shuffle(base.toVector).take(20).map(s =>
        s.g.accession -> founderLineages(r.nextInt(founderLineages.size))).toMap
      val updateTsv = tsv(Seq("accession", "lineage", "date", "zip", "lab"),
        samples.map(s => Seq(s.g.accession, s.lineage, s.date, s.zip, s.lab)) ++
          corrected.toSeq.sortBy(_._1).map { case (a, l) => Seq(a, l, "", "", "") })
      val restore = samples.map(_.g) ++ r.shuffle(base.toVector).take(20).map(_.g)
      val burst = surveillanceBurst(r, fresh.map(_.g), date)
      Day(batch, samples, updateTsv, burst, restore,
        s"${dateOf(date - 2)}:${dateOf(date)}")
    }
    Surveillance(base, day)
  }

  /** SNP tokens (reference coordinates) a sequence carries, from a direct
    * comparison with the reference; only for substitution-only mutants.
    */
  private def snpTokens(seq: String): Seq[String] =
    if (seq.length != refSeq.length) Nil
    else (0 until seq.length).collect {
      case i if seq.charAt(i) != refSeq.charAt(i) && seq.charAt(i) != 'N' =>
        s"${refSeq.charAt(i)}${i + 1}${seq.charAt(i)}"
    }

  private def surveillanceBurst(r: Random, fresh: Seq[Genome], date: Int): Seq[QuerySpec] = {
    val tokens = fresh.flatMap(g => snpTokens(g.seq))
    val counts = tokens.groupBy(identity).map { case (t, ts) => t -> ts.size }
    val rare = counts.toSeq.filter(_._2 == 1).map(_._1).sorted
    val common = counts.toSeq.sortBy { case (t, n) => (-n, t) }.map(_._1)
    val pick = r.shuffle(rare.toVector)
    Seq(
      QuerySpec("private_snp", "point", profiles = Seq(Seq(pick(0)))),
      QuerySpec("private_or", "point", profiles = Seq(Seq(pick(1)), Seq(pick(2)))),
      QuerySpec("founder_snp", "point", profiles = Seq(Seq(common.head))),
      QuerySpec("founder_and_date", "point", profiles = Seq(Seq(common(1))),
        dates = Seq(s"${dateOf(date - 5)}:${dateOf(date)}")),
      QuerySpec("lineage_sub", "scan", lineages = Seq("B.1.1.7"), withSub = true),
      QuerySpec("lineage_wildcard", "scan", lineages = Seq("B.1.177%")),
      QuerySpec("metadata_day", "scan", dates = Seq(dateOf(date)), labs = Seq(s"LAB${r.nextInt(10)}")))
  }

  // ---- match population -------------------------------------------------------

  /** One match query: `tier` says which plan it is built to exercise —
    * "point" (served by the token index) or "scan" (needs the full essence
    * scan). `cli` queries run through `SonarCli.run` and print CSV; the
    * others run in count mode.
    */
  final case class QuerySpec(
      name: String,
      tier: String,
      profiles: Seq[Seq[String]] = Nil,
      excludes: Seq[Seq[String]] = Nil,
      lineages: Seq[String] = Nil,
      withSub: Boolean = false,
      zips: Seq[String] = Nil,
      dates: Seq[String] = Nil,
      labs: Seq[String] = Nil,
      cli: Boolean = false) {
    def args: MatchArgs = MatchArgs(profiles = profiles, excludeProfiles = excludes,
      lineages = lineages, withSublineage = withSub, zips = zips, dates = dates, labs = labs)
    def argv(db: String): Seq[String] =
      Seq("match", "--db", db) ++
        profiles.flatMap("-i" +: _) ++ excludes.flatMap("-e" +: _) ++
        (if (lineages.nonEmpty) "--lineage" +: lineages else Nil) ++
        (if (withSub) Seq("--with-sublineage") else Nil) ++
        (if (zips.nonEmpty) "--zip" +: zips else Nil) ++
        (if (dates.nonEmpty) "--date" +: dates else Nil) ++
        (if (labs.nonEmpty) "--lab" +: labs else Nil)
  }

  /** A pool SNP with the protein tokens it causes in every CDS it hits. */
  final case class PoolSnp(pos: Int, refBase: Char, alt: Char, aa: Seq[String]) {
    def dna: String = s"$refBase$pos$alt"
  }

  private def aaTokens(pos0: Int, alt: Char): Seq[String] =
    ref.cds.flatMap { c =>
      val k = c.codingPositions.indexOf(pos0)
      if (k < 0 || c.strand != "+") None
      else {
        val codon = k / 3
        if (3 * codon + 2 >= c.codingPositions.length) None
        else {
          val cps = (0 until 3).map(j => c.codingPositions(3 * codon + j))
          val refCodon = cps.map(refSeq.charAt).mkString
          val altCodon = cps.map(p => if (p == pos0) alt else refSeq.charAt(p)).mkString
          val (ra, aa) = (Genetics.translate(refCodon), Genetics.translate(altCodon))
          if (ra == aa) None else Some(s"${c.symbol}:$ra${codon + 1}$aa")
        }
      }
    }.distinct

  private def poolSnp(pos: Int, alt: Char): PoolSnp = {
    val refBase = refSeq.charAt(pos - 1)
    PoolSnp(pos, refBase, alt, aaTokens(pos - 1, alt))
  }

  /** The variant pool. Rank 0 is S:D614G and rank 1 is S:N501Y, the
    * commonest query in covSonar's documentation; the rest sit at seeded
    * distinct positions. Rank r is drawn with density ∝ u³, so low ranks are
    * common and the tail is rare.
    */
  def pool(seed: Long, size: Int): IndexedSeq[PoolSnp] = {
    val rnd = rng(seed, 5)
    val fixed = Seq(poolSnp(23403, 'G'), poolSnp(23063, 'T'))
    val used = scala.collection.mutable.HashSet(23403, 23063)
    val rest = Iterator.continually(200 + rnd.nextInt(refSeq.length - 400))
      .filter(used.add).take(size - fixed.size + 3 + 4).toVector
    val snps = rest.take(size - fixed.size).map { p =>
      val b = refSeq.charAt(p - 1)
      poolSnp(p, "ACGT".filterNot(_ == b).charAt(rnd.nextInt(3)))
    }
    (fixed ++ snps).toIndexedSeq
  }

  /** Ultra-rare marker SNPs: positions outside the pool, each carried by
    * exactly five seeded sequences (sequence ids) of an n-genome population.
    */
  def markers(seed: Long, poolSize: Int, n: Long): Seq[(PoolSnp, Seq[Long])] = {
    val p = pool(seed, poolSize)
    val used = p.map(_.pos).toSet
    val rnd = rng(seed, 6)
    Iterator.continually(200 + rnd.nextInt(refSeq.length - 400)).filterNot(used)
      .distinct.take(3).toSeq.map { pos =>
        val b = refSeq.charAt(pos - 1)
        (poolSnp(pos, "ACGT".filterNot(_ == b).charAt(rnd.nextInt(3))),
          Seq.fill(5)(seqidOf(rnd.nextInt(1 << 30).toLong % n)))
      }
  }

  /** Pool ranks whose position also carries N calls in some genomes. */
  def ambiguityRanks(poolSize: Int): Seq[Int] = Seq(poolSize / 8, poolSize / 5, poolSize / 3)

  /** Population lineages: the B.1.1.7 family (with sublineages), the
    * B.1.177 family (for `%` wildcards) and a spread of others.
    */
  val populationLineages: Seq[String] = Seq("B.1.1.7", "Q.1", "Q.2", "Q.4", "B.1.177",
    "B.1.177.4", "B.1.177.7", "B.1.177.21", "AA.2", "B.1.617.2", "AY.4", "P.1", "B.1.351",
    "B.1.1", "BA.1")

  /** Accession of population genome `id`. Genome ids `id % 20 == 19` share
    * the sequence of genome `id - 1` (the accession-vs-sequence split).
    */
  def popAccession(id: Long): String = s"POP$id"
  def seqidOf(id: Long): Long = if (id % 20 == 19) id - 1 else id
  def carriersOf(seqids: Seq[Long], n: Long): Seq[String] =
    seqids.filter(_ < n).flatMap(s => Seq(s) ++ (if (s % 20 == 18 && s + 1 < n) Seq(s + 1) else Nil))
      .map(popAccession).distinct.sorted

  private def rowRng(seed: Long, id: Long, stream: Int) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id * 31L + stream))

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Synthesize an n-genome population as (genome, sequence, profile)
    * tables, with dna and protein profiles drawn from the pool: 30 draws
    * with density ∝ u³ per sequence, S:D614G in ~90% and S:N501Y in ~75%
    * of sequences, an N call at an ambiguity position in ~4%, and the
    * markers.
    */
  def population(spark: SparkSession, seed: Long, n: Long, poolSize: Int): (DataFrame, DataFrame, DataFrame) = {
    import graft.covsonar.SonarStore.schemas
    val p = pool(seed, poolSize)
    val dna = p.map(_.dna).toArray
    val aa = p.map(_.aa.toArray).toArray
    val marks = markers(seed, poolSize, n).map { case (m, sids) => (m.dna, m.aa.toArray, sids.toSet) }.toArray
    val ambig = ambiguityRanks(poolSize).map(r => s"${p(r).refBase}${p(r).pos}N").toArray
    val lins = populationLineages.toArray
    val imported = java.sql.Timestamp.valueOf("2022-01-01 00:00:00")
    val day0 = java.time.LocalDate.parse("2021-01-01")
    val ids = spark.sparkContext.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
    def seqhash(seqid: Long) = md5(s"pop$seed-$seqid")
    val genomes = ids.map { id =>
      val r = rowRng(seed, id, 1)
      val day = r.nextInt(365)
      org.apache.spark.sql.Row(popAccession(id), s"synthetic genome $id", seqhash(seqidOf(id)),
        lins(r.nextInt(lins.length)), f"${10000 + r.nextInt(90000)}%05d",
        day0.plusDays(day).toString, day0.plusDays(day + 7).toString, "", "",
        s"SRC${r.nextInt(20)}", s"COLL${r.nextInt(50)}", s"LAB${r.nextInt(200)}", "ILLUMINA",
        "", "", "", "", "", 10.0 + r.nextInt(2000) / 100.0, imported)
    }
    val seqids = ids.filter(id => seqidOf(id) == id)
    val profiles = seqids.map { sid =>
      val r = rowRng(seed, sid, 2)
      val ranks = Array.fill(30) { val u = r.nextDouble(); math.min((u * u * u * poolSize).toInt, poolSize - 1) } ++
        (if (r.nextInt(100) < 90) Array(0) else Array.empty[Int]) ++
        (if (r.nextInt(100) < 75) Array(1) else Array.empty[Int])
      val nTok = if (r.nextInt(100) < 4) Array(ambig(r.nextInt(ambig.length))) else Array.empty[String]
      val mk = marks.filter(_._3.contains(sid))
      org.apache.spark.sql.Row(seqhash(sid),
        (ranks.map(dna(_)) ++ nTok ++ mk.map(_._1)).distinct.sorted.toSeq,
        (ranks.flatMap(aa(_)) ++ mk.flatMap(_._2)).distinct.sorted.toSeq,
        Seq.empty[String])
    }
    (spark.createDataFrame(genomes, schemas("genome")),
      spark.createDataFrame(seqids.map(sid => org.apache.spark.sql.Row(seqhash(sid))), schemas("sequence")),
      spark.createDataFrame(profiles, schemas("profile")))
  }

  /** The distinct match shapes over a population: point shapes the token
    * index serves and scan shapes that need the full essence scan.
    */
  def matchSpecs(seed: Long, poolSize: Int): Seq[QuerySpec] = {
    val p = pool(seed, poolSize)
    val rnd = rng(seed, 7)
    val tail = (poolSize / 2 until poolSize).toVector
    val rareRanks = rnd.shuffle(tail).take(6)
    val rare = rareRanks.map(p(_).dna)
    val rareAa = rnd.shuffle(tail.filter(r => p(r).aa.nonEmpty)).take(2).map(r => p(r).aa.head)
    val marks = markers(seed, poolSize, n = 1L).map(_._1.dna) // tokens only
    val ambig = ambiguityRanks(poolSize).map(r => s"${p(r).refBase}${p(r).pos}N")
    val xAmbig = rareAa.head.dropRight(1) + "X"
    val hot = p(0).dna
    val n501y = p(1).aa.find(_.startsWith("S:")).getOrElse(p(1).aa.head)
    val month = 1 + rnd.nextInt(9)
    val window = f"2021-$month%02d-01:2021-${month + 2}%02d-28"
    Seq(
      QuerySpec("ultra_rare", "point", profiles = Seq(Seq(marks(0))), cli = true),
      QuerySpec("rare", "point", profiles = Seq(Seq(rare(0)))),
      QuerySpec("rare_aa", "point", profiles = Seq(Seq(rareAa(1))), cli = true),
      QuerySpec("and_hot_rare", "point", profiles = Seq(Seq(hot, rare(2)))),
      QuerySpec("or_rare", "point", profiles = Seq(Seq(rare(3)), Seq(rare(4))), cli = true),
      QuerySpec("exclude", "point", profiles = Seq(Seq(rare(5))), excludes = Seq(Seq(rare(0))), cli = true),
      QuerySpec("n_ambiguity", "point", profiles = Seq(Seq(ambig(rnd.nextInt(ambig.size))))),
      QuerySpec("x_ambiguity", "point", profiles = Seq(Seq(xAmbig))),
      QuerySpec("hot_dna", "scan", profiles = Seq(Seq(hot)), zips = Seq(s"${1 + rnd.nextInt(9)}"),
        dates = Seq(window)),
      QuerySpec("hot_aa_lineage", "scan", profiles = Seq(Seq(n501y)), lineages = Seq("B.1.1.7"),
        dates = Seq(window)),
      QuerySpec("metadata_only", "scan", zips = Seq(s"${1 + rnd.nextInt(9)}"), dates = Seq(window),
        labs = Seq(s"LAB${rnd.nextInt(200)}"), cli = true),
      QuerySpec("lineage_sub", "scan", lineages = Seq("B.1.1.7"), withSub = true, dates = Seq(window)),
      QuerySpec("lineage_wildcard", "scan", lineages = Seq("B.1.177%"), dates = Seq(window)))
  }

  /** The closed-loop query sequence: seeded permutations of all shapes, one
    * after another, so every run of whole cycles samples each shape equally.
    */
  def matchMix(seed: Long, nSpecs: Int, cycles: Int): Seq[Int] = {
    val rnd = rng(seed, 8)
    Seq.fill(cycles)(rnd.shuffle((0 until nSpecs).toVector)).flatten
  }
}
