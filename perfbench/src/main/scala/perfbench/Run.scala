package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a batch, a read or a query (`group`), of one kind
  * (the read or the query name). */
final case class Op(group: String, kind: String, seconds: Double, traced: Boolean)

/** What a workload hands back to [[Main]]. `primary` names the operation
  * group the latency and throughput metrics describe; `failed` counts timed
  * operations that failed or returned a wrong result, out of `attempted`. */
final case class Outcome(setupSeconds: Seq[Double], ops: Seq[Op], primary: String,
    attempted: Int, failed: Int, errors: Seq[String], storageAmplification: Double,
    perLayer: Map[String, Double], info: Map[String, Any])

/** What a workload runs with: the session, its directories (`tmp` is the
  * JVM's temporary directory), the seed, the timed seconds, and the tracer
  * (recording when `trace`). */
final class RunContext(val spark: SparkSession, val work: Path, val tmp: Path,
    val seed: Long, val seconds: Int, val trace: Boolean, val tracer: Tracer) {

  /** Seconds since JVM start at which each phase of the run ended. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit = phases(name) =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private var marks = Seq.empty[(Long, Double, Double)]
  /** Bracket the timed part: wall, process CPU and GC seconds. */
  def timedStart(): Unit = marks = Seq(mark())
  def timedEnd(): Unit = marks = marks :+ mark()
  private def mark() = (System.nanoTime(), Main.processCpuSeconds(), Main.gcSeconds())
  /** (wall, cpu, gc) seconds of the timed part. */
  def timed: (Double, Double, Double) = {
    val Seq((w0, c0, g0), (w1, c1, g1)) = marks
    ((w1 - w0) / 1e9, c1 - c0, g1 - g0)
  }
}
