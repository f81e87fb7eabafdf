package jirabench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the engine's public API.
  *
  * `Main <spec.json> <result.json>`. The spec (written by run.py) names the
  * workload, the run length, the inputs and whether to trace. The harness
  * sets up (session, warm-up round, server), then runs whole rounds of the
  * workload's operations until the run length is spent, and writes per-op
  * times, per-round layer totals and the outputs to check into the result.
  * Checking happens outside the JVM, against computations made apart from
  * the engine.
  */
object Main {
  val mapper = new ObjectMapper()

  final case class Op(name: String, seconds: Double, fingerprint: String)
  final case class Round(wallSeconds: Double, ops: Seq[Op],
      layers: Map[String, Double])

  /** One workload: `warmUp(i)` runs untimed rounds before the clock
    * starts, `round(i)` is one timed round, `finish` runs after the last.
    */
  trait Workload {
    def warmUp(i: Int): Unit
    def round(i: Int): Round
    def finish(out: ObjectNode): Unit
    /** Release what the workload started; runs even when a round fails. */
    def close(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readString(Paths.get(args(0))))
    val work = spec.get("work").asText
    val cores = spec.get("cores").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("jirabench")
      .config("spark.sql.shuffle.partitions", spec.get("shuffle").asText)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    val tracer = new Tracer(spark, spec.get("trace").asBoolean)
    val out = mapper.createObjectNode()
    var workload: Workload = null
    try {
      workload = spec.get("workload").asText match {
        case "queries-staged" | "queries-relational" =>
          new QueryWorkload(spark, tracer, spec)
        case "ingest-lake" => new LakeWorkload(spark, tracer, spec)
        case "ingest-api" => new ApiWorkload(spark, tracer, spec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      (0 until spec.get("warm_rounds").asInt).foreach(workload.warmUp)
      log("workload set up")
      out.put("setup_end_us", epochMicros())
      val seconds = spec.get("seconds").asDouble
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val rounds = Vector.newBuilder[Round]
      var i = 0
      val minRounds = spec.get("min_rounds").asInt
      while (i < minRounds || elapsed < seconds) {
        tracer.reset()
        rounds += workload.round(i)
        i += 1
      }
      out.put("timed_s", elapsed)
      log("timed phase done")
      val rs = out.putArray("rounds")
      rounds.result().foreach { r =>
        val o = rs.addObject()
        o.put("wall_s", r.wallSeconds)
        val ops = o.putArray("ops")
        r.ops.foreach { op =>
          ops.addObject().put("name", op.name).put("s", op.seconds)
            .put("fp", op.fingerprint)
        }
        val l = o.putObject("layers")
        r.layers.toSeq.sortBy(_._1).foreach { case (k, v) => l.put(k, v) }
      }
      workload.finish(out)
      log("outputs written")
      tracer.writeSpans(spec.get("spans").asText)
      Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
    } finally {
      if (workload != null) workload.close()
      tracer.stop()
      spark.stop()
      log("session stopped")
    }
  }

  /** Progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[jirabench] ${up / 1000.0}%.2f s: $msg")
  }

  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
