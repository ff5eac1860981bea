package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runs ops for one closed-loop caller: times every public call,
  * materialises each output through the noop sink, fingerprints it,
  * and counts failures. With a [[Tracer]] and `tracing` on, it also
  * charges engine work to the op.
  */
final class Runner(tracer: Option[Tracer], expected: Map[String, String]) {
  import Runner.OpRun

  var pass = 0
  var tracing = false
  private var passSpan = -1
  val spans = ArrayBuffer.empty[Span]
  val runs = ArrayBuffer.empty[OpRun]
  val fingerprints = mutable.LinkedHashMap.empty[String, String]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0

  private def span(name: String, parent: Int)(f: => Unit): Long = {
    val id = spans.length
    spans += null
    val t0 = System.nanoTime()
    try f
    finally spans(id) = Span(id, parent, name, pass, t0, System.nanoTime())
    spans(id).endNs - t0
  }

  def inPass(p: Int)(f: => Unit): Double = {
    pass = p
    val id = spans.length
    val ns = span(s"pass", -1) { passSpan = id; f }
    ns / 1e9
  }

  /** The calls one op makes: graft API calls and output actions. */
  final class Ctx(opSpan: Int, stats: Option[OpStats]) {
    private[Runner] val fps = ArrayBuffer.empty[String]
    private[Runner] var drainNs = 0L

    private def drained(): Unit = stats.foreach { _ =>
      val t0 = System.nanoTime(); tracer.foreach(_.drain()); drainNs += System.nanoTime() - t0
    }

    /** One call into graft. A lazy call builds a plan; Spark jobs it
      * starts count as plan jobs. An eager call (a store write) does
      * its work inside the call.
      */
    def call[T](api: String, eager: Boolean = false)(f: => T): T = {
      tracer.foreach(_.building = stats.isDefined && !eager)
      var out: Option[T] = None
      span(api, opSpan) { out = Some(f) }
      drained()
      tracer.foreach(_.building = false)
      out.get
    }

    /** Materialises every column of `df` through the noop sink; the
      * fingerprint rides along as observed metrics of the same job.
      */
    def emit(df: DataFrame): Unit = {
      val obs = new Observation()
      val h = xxhash64(Runner.hashable(df): _*)
      val observed = df.observe(obs,
        count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xffffffffL))).as("s"), bit_xor(h).as("x"))
      span("action.noop", opSpan)(observed.write.format("noop").mode("overwrite").save())
      val m = obs.get
      fps += Runner.fingerprint(m("n"), m("s"), m("x"))
    }
  }

  /** Runs one op. `key` names the output checked across passes (the op
    * plus its batch, where an op runs once per batch). Returns its wall
    * time, excluding time spent waiting for trace events.
    */
  def op(op: String, key: String = "")(body: Ctx => Unit): Double = {
    val k = if (key.isEmpty) op else key
    attempted += 1
    val stats = if (tracing) tracer.map(_.begin()) else None
    val id = spans.length
    var ctx: Ctx = null
    val ns = span(op, passSpan) {
      ctx = new Ctx(id, stats)
      try {
        body(ctx)
        val fp = ctx.fps.mkString("+")
        fingerprints.get(k) match {
          case Some(first) if first != fp =>
            failures += s"$k: pass $pass fingerprint $fp differs from pass-0 $first"
          case None =>
            fingerprints(k) = fp
            expected.get(k).filter(_ != fp).foreach { want =>
              failures += s"$k: fingerprint $fp differs from the committed $want"
            }
          case _ => ()
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$k: pass $pass threw ${e.toString.take(300)}"
          System.err.println(s"[graftbench] $k failed: $e")
      }
    }
    stats.foreach(s => tracer.foreach(_.end(s)))
    val wall = (ns - ctx.drainNs) / 1e9
    runs += OpRun(pass, op, wall, stats)
    System.err.println(f"[graftbench] pass $pass $k: $wall%.3f s")
    wall
  }

  def failed: Int = failures.length

  /** Fingerprint of `df` outside any timed op (the SparkEntry check). */
  def fingerprintOf(df: DataFrame): String = {
    val ctx = new Ctx(-1, None)
    ctx.emit(df)
    ctx.fps.head
  }
}

object Runner {

  /** One op run: its pass, name and wall time, and its engine work when traced. */
  final case class OpRun(pass: Int, op: String, wallS: Double, stats: Option[OpStats])

  /** Columns to hash, timestamps as epoch micros, so a timestamp and
    * the BIGINT micros graft's SparkEntry queries emit hash alike. Every op's
    * output is bit-stable from run to run, floats included, so nothing
    * is rounded.
    */
  def hashable(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (f.dataType == TimestampType) unix_micros(c) else c
    }

  def fingerprint(n: Any, s: Any, x: Any): String = {
    def hex(v: Any): String = v match {
      case l: Long => java.lang.Long.toHexString(l)
      case null => "0"
      case other => other.toString
    }
    s"$n:${hex(s)}:${hex(x)}"
  }
}
