package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Dataset, SparkSession}

/** One benchmark run of an io workload: set up several times, run
  * rounds of (write, full scan, record-range slices) for the given
  * number of seconds from a single closed-loop client, check every
  * output, and write the raw samples as JSON for `run.py` to reduce.
  *
  * {{{
  * perfbench.Main --workload nc4_io|nc3_io --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE --cores N [--corrupt 1]
  * }}}
  *
  * With `--trace 1` the run adds, after an untraced stretch, a
  * parquet reference, a traced stretch observed through a
  * SparkListener, a QueryExecutionListener, JMX and /proc/self/io,
  * and timed direct calls into both codecs. `--corrupt 1` flips one
  * stored byte after every timed write, to show that the checks
  * catch a bad read-back. */
object Main {
  val shape: Shape = Shape(records = 32768, rows = 16, cols = 16, parts = 4)
  val scansPerRound = 3
  val slicesPerRound = 17
  val minRounds = 3
  /** untimed rounds after set-up, so the JIT reaches steady state */
  val warmRounds = 1
  val setups = 3
  val opTimeoutS = 60L

  case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
      out: String, cores: Int, corrupt: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), need("cores").toInt, m.get("corrupt").contains("1"))
  }

  /** Jackson, as shipped with Spark, with Scala collection support */
  val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = new Runner(a).run()
    json.writeValue(new java.io.File(a.out), result)
  }
}

final class Runner(a: Main.Args) {
  import Main._

  private val fmt = Format(a.workload)
  private val dataDir = s"${a.work}/data/${fmt.name}"
  private val parquetDir = s"${a.work}/data/parquet"
  private val rng = new java.util.Random(a.seed)
  private val spans = new Spans
  private val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val timer = Executors.newSingleThreadScheduledExecutor()
  private var spark: SparkSession = _
  private var input: Dataset[Rec] = _
  private var io: IoOps = _
  private var trace: SparkTrace = _
  private var seq = 0
  private var round = 0
  private var sliceLen = 0L

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // keep the status store small and fixed in size: with the
      // defaults it retains every query, job and task of the run, so
      // heap occupancy would grow with the number of rounds run
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run one operation under its own job group; `check` sees the
    * result after the timer stops and returns an error or null. */
  private def op[T](kind: String, phase: String)(body: => T)(check: T => String)
      : mutable.Map[String, Any] = {
    seq += 1
    val group = s"perfbench-$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = true)
    val c0 = if (trace != null) Counters.now() else null
    val cancel = timer.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, opTimeoutS, TimeUnit.SECONDS)
    val s = System.nanoTime()
    val res = Try(body)
    val e = System.nanoTime()
    cancel.cancel(false)
    sc.clearJobGroup()
    val err = res match {
      case Failure(t) => s"${t.getClass.getName}: ${t.getMessage}".take(500)
      case Success(v) => Try(check(v)).fold(t => s"check failed: $t", x => x)
    }
    val rec = mutable.LinkedHashMap[String, Any]("seq" -> seq, "kind" -> kind,
      "phase" -> phase, "round" -> round, "wall_s" -> (e - s) / 1e9, "ok" -> (err == null),
      "err" -> err)
    if (trace != null) {
      org.apache.spark.GraftListenerBusAccess.drain(sc)
      val d = Counters.now() - c0
      val t = trace.take(group)
      val root = spans.add(0, kind, "op", spans.msOfNano(s), spans.msOfNano(e),
        Map("workload" -> a.workload, "op" -> kind, "seq" -> seq))
      t.phases.foreach { case (name, ps, pe) =>
        spans.add(root, name, "catalyst", spans.msOfEpoch(ps), spans.msOfEpoch(pe))
      }
      t.jobs.foreach { j =>
        val jid = spans.add(root, "job", "spark", spans.msOfEpoch(j.submitMs),
          spans.msOfEpoch(j.endMs), Map("job" -> j.id))
        j.stages.filter(_.submitMs >= 0).foreach { st =>
          spans.add(jid, "stage", "spark", spans.msOfEpoch(st.submitMs),
            spans.msOfEpoch(st.endMs), Map("stage" -> st.id, "tasks" -> st.tasks))
        }
      }
      rec ++= Seq(
        "rchar" -> d.rchar, "wchar" -> d.wchar, "gc_count" -> d.gcCount, "gc_ms" -> d.gcMs,
        "alloc_bytes" -> d.allocBytes, "compiles" -> d.compiles,
        "phases" -> t.phases.map { case (n, ps, pe) => Map("name" -> n, "ms" -> (pe - ps)) },
        "jobs" -> t.jobs.map { j =>
          val st = j.stages
          Map("sched_delay_ms" ->
            (if (j.firstLaunchMs >= 0) j.firstLaunchMs - j.submitMs else -1L),
            "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
            "cpu_ns" -> st.map(_.cpuNs).sum, "gc_ms" -> st.map(_.gcMs).sum,
            "shuffle_bytes" -> st.map(s => s.shuffleRead + s.shuffleWrite).sum,
            "spill_bytes" -> st.map(_.spill).sum,
            "max_stage_tasks" -> (0 +: st.map(_.tasks)).max)
        })
    }
    ops += rec
    rec
  }

  /** write, full scans, then record-range slices */
  private def runRound(phase: String, scans: Int, slices: Int): Unit = {
    val w = writeOp(phase)
    w ++= Seq("bytes" -> shape.userBytes, "stored" -> io.storedBytes(),
      "files" -> io.partFiles().size)
    if (sliceLen == 0) sliceLen = io.chunkRecords()
    if (a.corrupt && phase == "timed") corrupt()
    (1 to scans).foreach { _ =>
      val s = op("scan", phase)(io.scan())(Checks.scan(_, io.totals))
      s ++= Seq("bytes" -> shape.userBytes, "stored" -> w("stored"))
      if (s("ok") == false) { w("ok") = false; w("err") = s"read-back: ${s("err")}" }
    }
    (1 to slices).foreach { _ =>
      val r0 = (rng.nextDouble() * (shape.records - sliceLen + 1)).toLong
      val r1 = r0 + sliceLen
      val sl = op("slice", phase)(io.slice(r0, r1))(Checks.slice(_, a.seed, shape, r0, r1))
      sl ++= Seq("bytes" -> shape.recordBytes * sliceLen, "r0" -> r0)
      if (trace != null) sl += "covering_stored" -> io.coveringBytes(r0, r1)
    }
    round += 1
  }

  private def writeOp(phase: String): mutable.Map[String, Any] =
    op("write", phase)(io.write(input)) { _ =>
      val n = io.partFiles().size
      if (n != shape.parts) s"wrote $n part files, expected ${shape.parts}" else null
    }

  /** Live heap sampled by forced collections (see [[HeapProbe]])
    * during one write and three scans, after the timed window. */
  private def memoryProbe(): Seq[Long] =
    HeapProbe.during(writeOp("memory"))._2 ++ (1 to 3).flatMap(_ =>
      HeapProbe.during(op("scan", "memory")(io.scan())(Checks.scan(_, io.totals)))._2)

  /** Flip one byte in the middle of the first part file, and drop the
    * local filesystem's checksum sidecar so the bad byte reaches the
    * format's reader and the output checks. */
  private def corrupt(): Unit = {
    val path = io.partFiles().head.toUri.getPath
    val f = new java.io.RandomAccessFile(path, "rw")
    try {
      val at = f.length() / 2
      f.seek(at); val b = f.read(); f.seek(at); f.write(b ^ 0x5A)
    } finally f.close()
    val file = new java.io.File(path)
    new java.io.File(file.getParentFile, s".${file.getName}.crc").delete()
  }

  private def setup(last: Boolean): Double = {
    val t0 = System.nanoTime()
    spark = session()
    input = Gen.dataset(spark, a.seed, shape).cache()
    input.count()
    io = new IoOps(spark, fmt, a.seed, shape, dataDir)
    runRound("setup", 1, 2)
    val t = (System.nanoTime() - t0) / 1e9
    if (!last) { input.unpersist(blocking = true); spark.stop() }
    t
  }

  /** rounds until `seconds` have passed and at least `min` rounds ran */
  private def window(phase: String, seconds: Double, min: Int): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      runRound(phase, scansPerRound, slicesPerRound)
      n += 1
    }
  }

  private val t00 = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t00) / 1e9}%.1f s")

  def run(): Map[String, Any] = {
    val setupS = (1 to setups).map(i => setup(last = i == setups))
    (1 to warmRounds).foreach(_ => runRound("warm", scansPerRound, slicesPerRound))
    mark("setup done")
    val out = mutable.LinkedHashMap[String, Any]()
    if (!a.trace) {
      window("timed", a.seconds, minRounds)
      out += "heap_live_bytes" -> memoryProbe()
    } else {
      window("plain", a.seconds / 2.0, 2)
      Seq(1, 2).foreach { _ =>
        val w = op("parquet_write", "ref")(io.parquetWrite(input, parquetDir))(_ => null)
        w += "bytes" -> shape.userBytes
        val s = op("parquet_scan", "ref")(io.parquetScan(parquetDir))(Checks.scan(_, io.totals))
        s += "bytes" -> shape.userBytes
      }
      trace = new SparkTrace
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
      window("traced", a.seconds / 2.0, 2)
      spark.listenerManager.unregister(trace)
      spark.sparkContext.removeSparkListener(trace)
      trace = null
      out += "codec" -> codecCalls()
      out ++= Seq("compile_count" -> Counters.now().compiles,
        "compile_mean_ms" -> Counters.compileMeanMs())
    }
    mark("window done")
    val rb = op("readback", "check")(io.readBack()) { case (_, bad, first) =>
      if (bad != 0) s"$bad records differ: $first" else null
    }
    rb += "records" -> shape.records
    val spansFile = s"${a.work}/spans.jsonl"
    val w = new java.io.PrintWriter(spansFile, "UTF-8")
    try spans.all.foreach(s => w.println(json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end,
      "attrs" -> s.attrs))))
    finally w.close()
    mark("read-back done")
    spark.stop()
    timer.shutdownNow()
    mark("stopped")
    out ++= Seq(
      "workload" -> a.workload, "format" -> fmt.name, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "corrupt" -> a.corrupt,
      "shape" -> Map("records" -> shape.records, "field_rows" -> shape.rows,
        "field_cols" -> shape.cols, "record_bytes" -> shape.recordBytes,
        "user_bytes" -> shape.userBytes, "part_files" -> shape.parts,
        "slice_records" -> sliceLen, "slices_per_round" -> slicesPerRound),
      "env" -> Map("cores" -> a.cores, "master" -> s"local[${a.cores}]",
        "available_processors" -> Runtime.getRuntime.availableProcessors(),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.toSeq.map(_.toString).filter(_.startsWith("-X")),
        "jdk" -> System.getProperty("java.runtime.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "write_options" -> fmt.writeOptions),
      "setup_s" -> setupS,
      "spans_file" -> spansFile,
      "ops" -> ops.map(_.toMap).toSeq)
    out.toMap
  }

  /** Direct single-thread calls into both codecs, one part file's worth
    * of the workload's records, each under a root "codec" span. */
  private def codecCalls(): Seq[Map[String, Any]] = {
    val b = new Codec.Block(a.seed, shape, shape.records / shape.parts)
    val dir = s"${a.work}/codec"
    new java.io.File(dir).mkdirs()
    Seq[(String, (Spans, Long) => CodecResult)](
      "Hdf5Format" -> ((sp, p) => Codec.hdf5(b, a.seed, dir, sp, p)),
      "NcFormat" -> ((sp, p) => Codec.nc(b, a.seed, dir, sp, p))).map { case (layer, call) =>
      val s = System.nanoTime()
      val root = spans.add(0, "codec", "op", spans.msOfNano(s), spans.msOfNano(s),
        Map("workload" -> a.workload, "op" -> "codec"))
      val r = Try(call(spans, root))
      val e = System.nanoTime()
      spans.resize(root, spans.msOfNano(e))
      r match {
        case Success(c) => Map("layer" -> c.layer, "user_bytes" -> c.userBytes,
          "encode_s" -> c.encodeNs / 1e9, "decode_s" -> c.decodeNs / 1e9,
          "alloc_bytes" -> c.allocBytes, "chunks" -> c.chunks,
          "read_meta_s" -> c.readMetaNs.map(_ / 1e9), "ok" -> (c.mismatch == null),
          "err" -> c.mismatch)
        case Failure(t) => Map("layer" -> layer, "ok" -> false, "err" -> t.toString)
      }
    }
  }
}
