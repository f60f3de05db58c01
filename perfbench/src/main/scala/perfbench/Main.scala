package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one Spark session on
  * `local[cores]`.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json> --cores <n> [--fixture <dir>]
  *
  * Writes one JSON record to `--out`: the correctness verdict, attempted
  * and failed operations, every end-to-end metric, the per-layer metrics
  * (traced runs), and the run's ambience. A traced run also writes its
  * spans as JSON lines to `<out>.spans.jsonl`. */
object Main {
  val Workloads = Seq("medallion_incremental", "operator_mix")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = opts("cores").toInt
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    Files.createDirectories(work)

    val ambience = Ambience.measure(work, cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, trace)
    spark.sparkContext.addSparkListener(tracer.listener)
    val ctx = new RunContext(spark, work, tmp, seed, seconds, trace, tracer)
    ctx.phase("session")

    val outcome = workload match {
      case "medallion_incremental" => MedallionWorkload.run(ctx)
      case "operator_mix" => OperatorMix.run(ctx, Paths.get(opts("fixture")).toAbsolutePath)
    }
    ctx.phase("checked")
    if (trace) tracer.dump(Paths.get(out.toString + ".spans.jsonl"))
    spark.stop()
    ctx.phase("stopped")

    val record = Metrics.record(workload, seed, seconds, trace, outcome, tracer, ctx,
      ambience ++ Map("master" -> s"local[$cores]"))
    Files.write(out, record.getBytes("UTF-8"))
  }

  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** Where a run ran: core counts and two fixed canaries, so a figure from a
  * loaded or slow host can be told apart from an engine change. */
object Ambience {
  def measure(work: Path, cores: Int): Map[String, Any] = {
    // CPU canary: SHA-256 over a fixed 32 MiB
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val c0 = System.nanoTime()
    (1 to 32).foreach(_ => md.update(buf))
    md.digest()
    val cpuS = (System.nanoTime() - c0) / 1e9
    // IO canary: write, fsync and read back a fixed 16 MiB file
    val f = work.resolve("io-canary.bin")
    val i0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      (1 to 16).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(buf)))
      ch.force(true)
    } finally ch.close()
    Files.readAllBytes(f)
    val ioS = (System.nanoTime() - i0) / 1e9
    Files.delete(f)
    Map("nproc" -> Runtime.getRuntime.availableProcessors, "master_cores" -> cores,
      "cpu_canary_s" -> cpuS, "io_canary_s" -> ioS)
  }

  /** Peak resident set of this process in MiB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}
