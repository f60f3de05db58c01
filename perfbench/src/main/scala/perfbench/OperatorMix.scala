package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** `operator_mix`: passes over fixed engine queries (`SparkEntry.queries`)
  * on a seeded fixture in the reference's table shapes. Each pass runs the
  * queries in a seed-permuted order and writes each result, as the
  * correctness dump does; the last pass's results stay for the DuckDB
  * oracle compare. A traced run alternates untraced and traced passes, so
  * it can report the cost of tracing itself.
  *
  * A first, untimed pass warms the JVM: each query's first execution pays
  * its class loading, code generation and JIT. That is the set-up a user
  * pays once per query; `setup_s` is its median over the queries. */
object OperatorMix {
  val Queries = Seq(
    "q56_tpch_q3",         // relational baseline
    "q57_dedup_clusters",  // iterative fixpoint (connected components)
    "q132_ann_pq",         // interpreted vector math
    "q34_minhash_lsh")     // LSH candidate expansion

  def run(ctx: RunContext, fixture: Path): Outcome = {
    val spark = ctx.spark
    val fns = graft.SparkEntry.queries
    val results = ctx.work.resolve("results")
    val rnd = new java.util.SplittableRandom(ctx.seed)
    def order(): Seq[String] = {
      val a = Queries.toBuffer
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    // queries that pin frames cannot release their own last blocks; clear
    // them between queries, outside the timed call
    def scrub(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    val errors = mutable.ArrayBuffer.empty[String]
    var opNo = 0
    /** Seconds of one query with its result written; None when it failed. */
    def execute(q: String, traced: Boolean): Option[Double] =
      ctx.tracer.operation(opNo, traced) {
        opNo += 1
        scrub()
        val t0 = System.nanoTime()
        try {
          ctx.tracer.span(s"op.$q") {
            fns(q)(spark, fixture.toString).coalesce(1).write.mode("overwrite")
              .parquet(results.resolve(q).toString)
          }
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Exception =>
          errors += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
        }
      }

    val setups = order().flatMap(q => execute(q, traced = false))
    ctx.phase("warm")
    val ops = mutable.ArrayBuffer.empty[Op]
    var failed = 0
    val tmpBefore = Warehouse.bytesUnder(ctx.tmp)
    ctx.timedStart()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var passes = 0
    // at least two passes, so that a traced run, which alternates untraced
    // and traced passes, has one of each
    while (passes < 2 || System.nanoTime() < deadline) {
      val traced = ctx.trace && passes % 2 == 1
      order().foreach { q =>
        execute(q, traced) match {
          case Some(s) => ops += Op("query", q, s, traced)
          case None => failed += 1
        }
      }
      passes += 1
    }
    ctx.timedEnd()
    ctx.phase("timed")
    scrub()
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => Queries.contains(q) }
    java.nio.file.Files.write(results.resolve("oracle_sql.json"),
      Serialization.write(oracles)(DefaultFormats).getBytes("UTF-8"))
    val fixtureBytes = Warehouse.bytesUnder(fixture).toDouble
    val stateBytes = (Warehouse.bytesUnder(ctx.tmp) - tmpBefore).toDouble / passes
    Outcome(setups, ops.toSeq, "query", ops.size + failed, failed, errors.distinct.toSeq,
      (fixtureBytes + stateBytes) / fixtureBytes, Map.empty,
      Map("passes" -> passes, "pass_s" -> ops.map(_.seconds).sum / passes))
  }
}
