package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** The raw run record: every call into the program as a counted
  * operation, timing samples, result checks and scalar facts. The
  * runner turns it into metrics; nothing here aggregates. */
final class Record {
  val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val checks = mutable.ArrayBuffer.empty[collection.Map[String, Any]]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  /** Named ground-truth neighbour lists that checks refer to. */
  val truth = mutable.LinkedHashMap.empty[String, Seq[Seq[Long]]]

  /** Run one call as an operation. A thrown error marks it failed and
    * the run goes on; the caller gets the op id, the result if any, and
    * the wall time in seconds. */
  def op[T](kind: String, phase: String)(body: => T): (Int, Option[T], Double) = {
    val id = ops.length
    val o = mutable.LinkedHashMap[String, Any]("id" -> id, "kind" -> kind, "phase" -> phase)
    ops += o
    val t0 = System.nanoTime()
    val res =
      try Some(body)
      catch {
        case NonFatal(e) =>
          o("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
          None
      }
    val s = (System.nanoTime() - t0) / 1e9
    o("s") = s
    o("ok") = res.isDefined
    (id, res, s)
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def check(op: Int, kind: String, fields: (String, Any)*): Unit =
    checks += (mutable.LinkedHashMap[String, Any]("op" -> op, "kind" -> kind) ++= fields)
}
