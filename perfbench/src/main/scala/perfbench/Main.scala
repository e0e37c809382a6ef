package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. Runs one workload: set-up, an untraced
  * closed loop for the end-to-end numbers and, with `--trace 1`, a second,
  * traced loop for the per-layer numbers.
  * Writes every raw sample to the `--out` JSON file; `run.py` turns that
  * into the one-line result.
  *
  * Usage: perfbench.Main --workload match|surveillance --seed N
  *   --seconds S --trace 0|1 --out FILE --work DIR [--cpus N]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = Paths.get(a("work")).toAbsolutePath
    FileTree.delete(work)
    Files.createDirectories(work)

    val spinPre = Sentinels.spinS()
    val memPre = Sentinels.memS()

    val master = s"local[$cpus]"
    val spark = SparkSession.builder().master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sm = new SparkMetrics(spark.sparkContext)
    val c = new Ctx(spark, work, sm)

    val (w, sizes): (Workload, Seq[(String, Double)]) = workload match {
      case "match" =>
        val (n, pool, cycles) = (20000L, 1000, 8)
        (new MatchWorkload(c, seed, n, pool, cycles),
          Seq("population_genomes" -> n.toDouble, "pool_variants" -> pool, "mix_cycles" -> cycles))
      case "surveillance" =>
        val (g, u, ds) = (600, 60, 48)
        (new SurveillanceWorkload(c, seed, g, u, ds),
          Seq("base_genomes" -> g, "base_sequences" -> u, "day_genomes" -> ds))
      case other => sys.error(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val buildS = timed(w.build())
    val prepareS = timed(w.prepare())

    // peak live heap over the untraced loop, sampled between operations
    var peakHeap = 0.0
    def loop(): Seq[Op] = {
      val ops = Seq.newBuilder[Op]
      val t0 = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      // closed loop, one client, whole cycles only
      while (i == 0 || elapsed < seconds || i % w.cycle != 0) {
        ops += (try w.op(i) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $workload op $i threw: $e")
            Op("error", (System.nanoTime() - t0) / 1e6, ok = false, 0, 0, e.toString)
        })
        if (!c.traced) peakHeap = math.max(peakHeap, Heap.liveMb())
        i += 1
      }
      ops.result()
    }

    val untraced = loop()
    val bytesPerGenome = w.storeBytesPerGenome

    val (traced, layers, spans) =
      if (!traceOn) (Seq.empty[Op], Seq.empty[(String, Double)], Map.empty[String, (Int, Double, Double)])
      else {
        spark.sparkContext.addSparkListener(sm)
        c.trace = new Trace(true)
        val ops = loop()
        val sparkLayers = Seq("add", "match", "update", "restore", "var2vcf").flatMap(sm.metricsFor)
        (ops, w.layers() ++ sparkLayers, c.trace.selfTimes)
      }

    val spinPost = Sentinels.spinS()
    val memPost = Sentinels.memS()

    def opJson(o: Op) = J.obj(Seq("kind" -> J.str(o.kind), "ms" -> J.num(o.ms), "ok" -> o.ok.toString,
      "units" -> J.num(o.units), "unit_ms" -> J.num(o.unitMs), "note" -> J.str(o.note)))
    val json = J.obj(Seq(
      "workload" -> J.str(workload),
      "seed" -> seed.toString,
      "seconds" -> J.num(seconds),
      "cpus" -> cpus.toString,
      "master" -> J.str(master),
      "heap_max_mb" -> J.num(Heap.maxMb),
      "sizes" -> J.obj(sizes.map { case (k, v) => k -> J.num(v) }),
      "build_s" -> J.num(buildS),
      "prepare_s" -> J.num(prepareS),
      "untraced" -> J.arr(untraced.map(opJson)),
      "traced" -> J.arr(traced.map(opJson)),
      "peak_heap_mb" -> J.num(peakHeap),
      "store_bytes_per_genome" -> J.num(bytesPerGenome),
      "optimize_s" -> J.num(c.optimizeS),
      "layers" -> J.obj(layers.map { case (k, v) => k -> J.num(v) }),
      "spans" -> J.obj(spans.toSeq.sortBy(_._1).map { case (k, (n, total, self)) =>
        k -> J.obj(Seq("count" -> n.toString, "total_ms" -> J.num(total), "self_ms" -> J.num(self)))
      }),
      "span_list" -> J.arr(c.trace.all.map(sp => J.arr(Seq(sp.id.toString, sp.parent.toString,
        sp.op.toString, J.str(sp.name), J.num(sp.startNs / 1e6), J.num(sp.endNs / 1e6))))),
      "sentinels" -> J.obj(Seq("spin_pre_s" -> J.num(spinPre), "spin_post_s" -> J.num(spinPost),
        "mem_pre_s" -> J.num(memPre), "mem_post_s" -> J.num(memPost)))))
    spark.stop()
    Files.write(Paths.get(a("out")), json.getBytes("UTF-8"))
    FileTree.delete(work)
  }
}
