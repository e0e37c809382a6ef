package perfbench

import graft.covsonar._
import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation of the closed loop. `units` of work were done in
  * `unitMs` (one match in its wall time; a day's genomes added in its `add`
  * wall time); `ok` is false when the call threw or its output was wrong.
  */
final case class Op(kind: String, ms: Double, ok: Boolean, units: Double, unitMs: Double,
    note: String = "")

/** Shared state of a run: the session, the scratch directory, the tracer
  * and per-layer accumulators. Tracing state is active only in the traced
  * loop; the untraced loop pays none of it.
  */
final class Ctx(val spark: SparkSession, val work: Path, val sm: SparkMetrics) {
  var trace = new Trace(false)
  def traced: Boolean = trace.enabled
  val sums = mutable.LinkedHashMap.empty[String, Double]
  /** Wall time of the `optimize` call made during set-up. */
  var optimizeS = 0.0

  def optimize(store: SonarStore, files: Int, rowGroupBytes: Option[Long] = None): Unit = {
    val t0 = System.nanoTime()
    SonarOps.optimize(store, maxFilesPerTable = files, rowGroupBytes = rowGroupBytes)
    optimizeS += (System.nanoTime() - t0) / 1e9
  }
  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  def span[T](name: String)(body: => T): T = trace.span(name)(body)

  /** Run `body` as operation `label`: in the traced loop its Spark jobs are
    * charged to `spark.<label>.*`.
    */
  def op[T](label: String)(body: => T): T =
    if (!traced) body
    else {
      sm.begin(label)
      try span(label)(body) finally sm.end()
    }

  /** Runs a set-up phase, logging its wall time to stderr. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] setup $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def write(p: Path, text: String): Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
    p
  }
}

object FileTree {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    delete(to)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  private def files(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  /** Bytes of the store's data files (parquet and index), without checksums. */
  def storeBytes(p: Path): Long =
    files(p).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  def parquetFiles(p: Path): Int =
    if (!Files.exists(p)) 0 else files(p).count(_.getFileName.toString.endsWith(".parquet"))
}

/** Discards output, counting lines. */
final class LineCounter extends OutputStream {
  var lines = 0L
  def write(b: Int): Unit = if (b == '\n') lines += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var i = off
    while (i < off + len) { if (b(i) == '\n') lines += 1; i += 1 }
  }
}

/** A workload: set-up, then one closed-loop operation at a time. */
trait Workload {
  /** Build the starting store from scratch. */
  def build(): Unit
  /** The rest of the set-up on the built store: warm-up and the reference
    * answers the loop's outputs are checked against.
    */
  def prepare(): Unit
  def op(i: Int): Op
  /** Operations per cycle: a run measures whole cycles only. */
  def cycle: Int = 1
  /** On-disk store bytes per genome after the loop. */
  def storeBytesPerGenome: Double
  /** Per-layer metrics from the traced loop's accumulators. */
  def layers(): Seq[(String, Double)]
}

object Layers {
  /** Time the `add` hot path single-thread, as a dev probe would: alignment,
    * variant calling and the paranoid restore, per sequence.
    */
  def hotPath(c: Ctx, seqs: Seq[String]): Unit = {
    val ref = Reference.sarsCov2
    seqs.foreach { s0 =>
      val s = Genetics.harmonize(s0)
      val (aq, at) = c.span("Aligner.align")(Aligner.align(s, ref.refSeq))
      val (dnad, dp) = c.span("VariantCaller.call") {
        val dnad = VariantCaller.dnaVariants(aq, at)
        val aad = VariantCaller.aaVariants(aq, at, ref.cds)
        val dp = VariantCaller.buildProfile(dnad)
        VariantCaller.buildProfile(aad)
        VariantCaller.filterFrameshifts(dp, ref.cds)
        (dnad, dp)
      }
      c.span("SonarRestore.paranoid") {
        require(SonarRestore.applyVariants(dnad, ref.refSeq) == s, "paranoid: variants diverge")
        require(SonarRestore.applyProfile(dp, ref.refSeq) == s, "paranoid: profile diverges")
      }
    }
  }

  /** Mean wall time of the traced calls named `name`. */
  def perCall(c: Ctx, name: String): Double = {
    val ss = c.trace.all.filter(_.name == name)
    if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size
  }

  /** Checks an `add` report against the generator's expectations. */
  def checkAdd(r: AddReport, b: Gen.Batch): Option[String] =
    if (r.genomesAdded != b.added || r.sequencesAdded != b.newSeqs || r.skippedExisting != b.skipped)
      Some(s"add report $r, expected added=${b.added} newSeqs=${b.newSeqs} skipped=${b.skipped}")
    else if (r.skippedInvalid.nonEmpty) Some(s"invalid: ${r.skippedInvalid.take(3)}")
    else None

  /** Restores `gs` and compares each with its harmonized input. */
  def checkRestore(rows: Seq[(String, String)], gs: Seq[Gen.Genome]): Option[String] = {
    val got = rows.toMap
    gs.collectFirst {
      case g if !got.get(">" + g.description).contains(Genetics.harmonize(g.seq)) =>
        s"restore of ${g.accession} differs from its input"
    }.orElse(if (got.size != gs.map(_.accession).distinct.size) Some(s"restored ${got.size} of ${gs.size}") else None)
  }

  def restoreRows(store: SonarStore, accs: Seq[String]): Seq[(String, String)] =
    SonarRestore.restore(store, accs).collect().toSeq.map(r => (r.getString(0), r.getString(1)))
}

// ---- match ------------------------------------------------------------------

/** Shared match execution: a query through `SonarCli.run` (CSV to a
  * discarding stream) or in count mode through `SonarMatch.matchGenomes`.
  */
object MatchExec {
  private val sink = new PrintStream(new LineCounter)

  /** Rows returned; spans and Spark metrics are recorded when traced. */
  def run(c: Ctx, store: SonarStore, q: Gen.QuerySpec, cli: Boolean): Long =
    if (cli) {
      val lc = new LineCounter
      val out = new PrintStream(lc)
      c.op("match")(c.span("SonarCli.run")(SonarCli.run(c.spark, q.argv(store.dir), out, sink)))
      out.flush()
      lc.lines - 1 // header
    } else c.op("match") {
      val df = c.span("SonarMatch.plan")(SonarMatch.matchGenomes(store, q.args))
      c.span("SonarMatch.exec")(df.count())
    }

  /** Traced-loop extras, outside the timed window: the index tier the query
    * would take (a direct `carrierSuperset` call), index freshness, and for
    * CLI queries the plan and exec time of the same query, from which CSV
    * formatting time is derived.
    */
  def probe(c: Ctx, store: SonarStore, q: Gen.QuerySpec, rows: Long, cliMs: Option[Double]): Unit = {
    c.add("match.ops", 1)
    c.add("match.rows", rows.toDouble)
    if (TokenIndex.isFresh(store)) c.add("index.fresh", 1)
    val groups = SonarMatch.fixXNSearch(q.args.normalized.profiles).map(SonarMatch.makeExplicit)
    if (groups.nonEmpty) {
      c.add("index.lookups", 1)
      val t0 = System.nanoTime()
      val carriers = TokenIndex.carrierSuperset(store, groups, SonarStore.CarrierPlanCap)
      c.add("index.lookup_ms", (System.nanoTime() - t0) / 1e6)
      carriers.foreach { cs =>
        c.add("index.tier_index", 1); c.add("index.carriers", cs.size); c.add("index.rows", rows.toDouble)
      }
    }
    cliMs.foreach { ms =>
      val t0 = System.nanoTime()
      SonarMatch.matchGenomes(store, q.args).collect()
      c.add("cli.ops", 1)
      c.add("cli.format_ms", ms - (System.nanoTime() - t0) / 1e6)
    }
  }

  def layers(c: Ctx): Seq[(String, Double)] = {
    val s = c.sums
    def g(k: String) = s.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val n = g("match.ops")
    val sp = c.sm.snapshot("match")
    Seq(
      "TokenIndex.lookup_ms" -> ratio(g("index.lookup_ms"), g("index.lookups")),
      "TokenIndex.tier_index_frac" -> ratio(g("index.tier_index"), g("index.lookups")),
      "TokenIndex.carriers_per_query" -> ratio(g("index.carriers"), g("index.tier_index")),
      "TokenIndex.precision" -> ratio(g("index.rows"), g("index.carriers")),
      "TokenIndex.fresh_frac" -> ratio(g("index.fresh"), n),
      "SonarMatch.plan_ms" -> Layers.perCall(c, "SonarMatch.plan"),
      "SonarMatch.exec_ms" -> Layers.perCall(c, "SonarMatch.exec"),
      "SonarMatch.jobs_per_query" -> ratio(sp.jobs.toDouble, n),
      "SonarMatch.input_bytes_per_query" -> ratio(sp.inputBytes.toDouble, n),
      "SonarMatch.rows_read_per_row_returned" -> ratio(sp.inputRecords.toDouble, g("match.rows")),
      "SonarCli.format_ms" -> ratio(g("cli.format_ms"), g("cli.ops")))
  }
}

/** A seeded mix of point and scan match shapes over a synthesized, optimized
  * and indexed population.
  */
final class MatchWorkload(c: Ctx, seed: Long, n: Long, poolSize: Int, cycles: Int) extends Workload {
  override def cycle: Int = specs.size
  private val spark = c.spark
  private val dir = c.work.resolve("match-store")
  private val specs = Gen.matchSpecs(seed, poolSize)
  private val mix = Gen.matchMix(seed, specs.size, cycles)
  private var store: SonarStore = _
  private var expected: IndexedSeq[Long] = IndexedSeq.empty
  private val markerCarriers: Map[String, Seq[String]] = {
    val marks = Gen.markers(seed, poolSize, n).map { case (m, sids) => m.dna -> sids }.toMap
    specs.collect { case q if q.profiles.size == 1 && q.profiles.head.size == 1 && marks.contains(q.profiles.head.head) =>
      q.name -> Gen.carriersOf(marks(q.profiles.head.head), n)
    }.toMap
  }

  def build(): Unit = {
    FileTree.delete(dir)
    store = new SonarStore(spark, dir.toString)
    c.phase("population") {
      val (genomes, seqs, profiles) = Gen.population(spark, seed, n, poolSize)
      store.append("genome", genomes)
      store.append("sequence", seqs)
      store.append("profile", profiles)
    }
    c.phase("optimize")(c.optimize(store, 2, Some(4L << 20)))
    require(TokenIndex.isFresh(store), "population token index is not fresh")
  }

  def prepare(): Unit = {
    // reference answers: every shape with the token index off (full scans)
    spark.conf.set("spark.graft.match.tokenIndex", "false")
    try expected = c.phase("reference")(specs.map(q => SonarMatch.matchGenomes(store, q.args).count()).toIndexedSeq)
    finally spark.conf.unset("spark.graft.match.tokenIndex")
    // warm-up: the reference pass ran every scan plan; run each point shape
    // and each CLI shape once through the path the loop uses
    c.phase("warm-up")(specs.filter(q => q.tier == "point" || q.cli)
      .foreach(q => MatchExec.run(c, store, q, q.cli)))
    markerCarriers.foreach { case (name, accs) =>
      val got = SonarMatch.matchGenomes(store, specs.find(_.name == name).get.args)
        .select("accession").collect().map(_.getString(0)).toSet
      require(accs.forall(got), s"$name: seeded marker carriers not found")
    }
  }

  def op(i: Int): Op = {
    val k = mix(i % mix.size)
    val q = specs(k)
    val cli = q.cli
    c.trace.beginOp()
    val t0 = System.nanoTime()
    val rows = MatchExec.run(c, store, q, cli)
    val ms = (System.nanoTime() - t0) / 1e6
    if (c.traced) MatchExec.probe(c, store, q, rows, if (cli) Some(ms) else None)
    val ok = rows == expected(k)
    if (!ok) System.err.println(s"[perfbench] match ${q.name} returned $rows rows, expected ${expected(k)}")
    Op(q.tier, ms, ok, 1.0, ms, q.name + (if (cli) "/cli" else "/count"))
  }

  def storeBytesPerGenome: Double = FileTree.storeBytes(dir).toDouble / n

  def layers(): Seq[(String, Double)] = MatchExec.layers(c)
}

// ---- surveillance -----------------------------------------------------------

/** One scripted surveillance day per operation, on a base store whose
  * genomes came in through `add`: add a batch, import its metadata, run a
  * match burst without re-optimizing, restore, and export a VCF.
  */
final class SurveillanceWorkload(c: Ctx, seed: Long, nGenomes: Int, nSeqs: Int, daySize: Int)
    extends Workload {
  private val spark = c.spark
  private val sv = Gen.surveillance(seed, nGenomes, nSeqs, daySize)
  private val day = sv.day
  private val dayDir = c.work.resolve("sv-store")
  private val snapshot = c.work.resolve("sv-snapshot")
  private val mapping = Map("accession" -> "accession", "lineage" -> "lineage", "date" -> "date",
    "zip" -> "zip", "lab" -> "lab")
  private val fasta = c.write(c.work.resolve("in/day.fasta"), Gen.fasta(day.batch.genomes))
  private val tsv = c.write(c.work.resolve("in/day.tsv"), day.updateTsv)
  private var expected: Seq[Long] = Nil
  private var bytesPerGenome = 0.0

  /** Expected VCF sample set: genomes dated inside the window after the update. */
  private val vcfSamples: Set[String] = {
    val Array(a, b) = day.vcfWindow.split(":")
    (sv.base ++ day.samples).filter(s => s.date >= a && s.date <= b).map(_.g.accession).toSet
  }

  def build(): Unit = {
    FileTree.delete(dayDir)
    val store = new SonarStore(spark, dayDir.toString)
    // the base store comes in through two adds, which also warms the add path
    sv.base.map(_.g).grouped((sv.base.size + 1) / 2).zipWithIndex.foreach { case (gs, k) =>
      val f = c.write(c.work.resolve(s"in/sv-base-$k.fasta"), Gen.fasta(gs))
      val r = c.phase("base add")(SonarIngest.add(store, SonarIngest.readFasta(spark, f.toString)))
      require(r.genomesAdded == gs.size, s"base add: $r")
    }
    val t = c.write(c.work.resolve("in/sv-base.tsv"), Gen.tsv(Seq("accession", "lineage", "date", "zip", "lab"),
      sv.base.map(s => Seq(s.g.accession, s.lineage, s.date, s.zip, s.lab))))
    c.phase("base metadata")(SonarOps.importMetadataCsv(store, t.toString, mapping, sep = "\t"))
    c.phase("optimize")(c.optimize(store, 2))
    require(TokenIndex.isFresh(store), "base token index is not fresh")
    FileTree.copyTree(dayDir, snapshot)
  }

  def prepare(): Unit = {
    // the day once, untimed: warm-up, and the reference answers of its match
    // burst with the token index off
    val s = c.phase("day")(runDay()._1)
    spark.conf.set("spark.graft.match.tokenIndex", "false")
    try expected = c.phase("reference")(day.burst.map(q => SonarMatch.matchGenomes(s, q.args).count()))
    finally spark.conf.unset("spark.graft.match.tokenIndex")
  }

  /** The day's five steps on the base store, put back from its snapshot at
    * the same path so its token index is fresh. Returns the
    * store, the add report, burst row counts, restored rows, the VCF
    * directory and the add wall time.
    */
  private def runDay(): (SonarStore, AddReport, Seq[Long], Seq[(String, String)], Path, Double) = {
    FileTree.copyTree(snapshot, dayDir)
    val store = new SonarStore(spark, dayDir.toString)
    val vcf = c.work.resolve("sv-vcf")
    val t0 = System.nanoTime()
    val r = c.op("add")(c.span("SonarIngest.add")(
      SonarIngest.add(store, SonarIngest.readFasta(spark, fasta.toString))))
    val addMs = (System.nanoTime() - t0) / 1e6
    c.op("update")(c.span("SonarOps.update")(
      SonarOps.importMetadataCsv(store, tsv.toString, mapping, sep = "\t")))
    val rows = day.burst.zipWithIndex.map { case (q, j) =>
      val cli = j % 3 == 0
      val t0 = System.nanoTime()
      val n = MatchExec.run(c, store, q, cli)
      if (c.traced) c.add(s"burst.${q.tier}_ms", (System.nanoTime() - t0) / 1e6)
      n
    }
    val restored = c.op("restore")(c.span("SonarRestore.restore")(
      Layers.restoreRows(store, day.restore.map(_.accession))))
    c.op("var2vcf")(c.span("SonarVcf.export")(
      SonarVcf.exportVcf(store, vcf.toString, dates = Seq(day.vcfWindow))))
    (store, r, rows, restored, vcf, addMs)
  }

  private def vcfHeaderSamples(vcf: Path): (Set[String], Long, Long) = {
    val parts = Files.list(vcf).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
    var samples = Set.empty[String]
    var sites = 0L
    parts.foreach { p =>
      Files.lines(p).iterator().asScala.foreach { l =>
        if (l.startsWith("#CHROM")) samples = l.split("\t").drop(9).toSet
        else if (!l.startsWith("#")) sites += 1
      }
    }
    (samples, sites, parts.map(Files.size).sum)
  }

  def op(i: Int): Op = {
    val (bytesBefore, filesBefore) =
      if (c.traced) (FileTree.storeBytes(snapshot), FileTree.parquetFiles(snapshot)) else (0L, 0)
    c.trace.beginOp()
    val t0 = System.nanoTime()
    val (store, r, rows, restored, vcf, addMs) = c.span("day")(runDay())
    val ms = (System.nanoTime() - t0) / 1e6
    val (samples, sites, vcfBytes) = vcfHeaderSamples(vcf)
    val err = Layers.checkAdd(r, day.batch)
      .orElse(if (rows == expected) None else Some(s"burst rows $rows, expected $expected"))
      .orElse(Layers.checkRestore(restored, day.restore))
      .orElse(if (samples == vcfSamples) None
        else Some(s"vcf samples ${samples.size}, expected ${vcfSamples.size}"))
      .orElse(if (TokenIndex.isFresh(store)) None else Some("token index stale after the day"))
    val bytesAfter = FileTree.storeBytes(dayDir)
    bytesPerGenome = bytesAfter.toDouble / (sv.base.size + r.genomesAdded)
    if (c.traced) {
      c.add("day.ops", 1); c.add("vcf.sites", sites.toDouble); c.add("vcf.bytes", vcfBytes.toDouble)
      c.add("vcf.samples", samples.size.toDouble)
      c.add("add.submitted", day.batch.genomes.size.toDouble)
      c.add("add.aligned", r.sequencesAdded.toDouble)
      c.add("add.added", r.genomesAdded.toDouble)
      c.add("store.bytes_written", (bytesAfter - bytesBefore).toDouble)
      c.add("store.files_added", (FileTree.parquetFiles(dayDir) - filesBefore).toDouble)
      c.add("restore.genomes", restored.size.toDouble)
      // single-thread hot path on some of the day's new sequences
      Layers.hotPath(c, day.samples.map(_.g.seq).distinct.take(6))
      // the day changes no table after its burst, so probing now sees the
      // index state the burst saw
      day.burst.zip(rows).foreach { case (q, n) =>
        c.add(s"burst.${q.tier}_n", 1)
        MatchExec.probe(c, store, q, n, None)
      }
    }
    err.foreach(e => System.err.println(s"[perfbench] surveillance day $i FAILED: $e"))
    Op("day", ms, err.isEmpty, r.genomesAdded.toDouble, addMs, err.getOrElse(""))
  }

  def storeBytesPerGenome: Double = bytesPerGenome

  def layers(): Seq[(String, Double)] = {
    val s = c.sums
    def g(k: String) = s.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val days = g("day.ops")
    val restore = c.sm.snapshot("restore")
    val add = c.sm.snapshot("add")
    val restoreS = Layers.perCall(c, "SonarRestore.restore") / 1000
    Seq(
      "Aligner.align_ms_per_seq" -> Layers.perCall(c, "Aligner.align"),
      "VariantCaller.call_ms_per_seq" -> Layers.perCall(c, "VariantCaller.call"),
      "SonarRestore.paranoid_ms_per_seq" -> Layers.perCall(c, "SonarRestore.paranoid"),
      "SonarIngest.add_s" -> Layers.perCall(c, "SonarIngest.add") / 1000,
      "SonarIngest.jobs" -> ratio(add.jobs.toDouble, days),
      "SonarIngest.tasks" -> ratio(add.tasks.toDouble, days),
      "SonarIngest.new_seq_frac" -> ratio(g("add.aligned"), g("add.submitted")),
      "SonarIngest.shuffle_write_bytes" -> ratio(add.shuffleWriteBytes.toDouble, days),
      "SonarStore.bytes_written_per_genome" -> ratio(g("store.bytes_written"), g("add.added")),
      "SonarStore.files_added" -> ratio(g("store.files_added"), days),
      "SonarOps.update_s" -> Layers.perCall(c, "SonarOps.update") / 1000,
      "SonarRestore.restore_s" -> restoreS,
      "SonarRestore.genomes_per_s" -> ratio(g("restore.genomes") / days, restoreS),
      "SonarRestore.input_bytes" -> ratio(restore.inputBytes.toDouble, days),
      "SonarVcf.export_s" -> Layers.perCall(c, "SonarVcf.export") / 1000,
      "SonarVcf.samples" -> ratio(g("vcf.samples"), days),
      "SonarVcf.sites" -> ratio(g("vcf.sites"), days),
      "SonarVcf.bytes_out" -> ratio(g("vcf.bytes"), days),
      "SonarMatch.burst_point_ms" -> ratio(g("burst.point_ms"), g("burst.point_n")),
      "SonarMatch.burst_scan_ms" -> ratio(g("burst.scan_ms"), g("burst.scan_n")),
      "SonarStore.profile_files" -> FileTree.parquetFiles(dayDir.resolve("profile")).toDouble) ++
      MatchExec.layers(c).filter { case (k, _) => k.startsWith("TokenIndex.") }
  }
}
