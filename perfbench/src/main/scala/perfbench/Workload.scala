package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** A wrong output. Thrown by an operation's own check, so a wrong result
  * and an exception are both counted as a failed operation. */
final class WrongResult(msg: String) extends RuntimeException(msg)

object Check {
  def equal[T](what: String, got: T, want: T): Unit =
    if (got != want)
      throw new WrongResult(s"$what: got ${clip(got)}, want ${clip(want)}")
  private def clip(x: Any): String = {
    val s = String.valueOf(x)
    if (s.length > 300) s.take(300) + "…" else s
  }
}

/** One timed operation. `prep` runs untimed just before it (e.g. files
  * arriving in a landing directory); `run` is timed and checks its own
  * output, throwing on a wrong result. */
final case class Op(id: String, run: () => Unit,
                    prep: () => Unit = () => ())

/** A workload: seeded inputs, an untimed correctness pass, and passes of
  * operations for the closed loop. */
trait Workload {
  def name: String
  /** Writes the seeded inputs under `dir`; returns their sizes. */
  def prepare(spark: SparkSession, dir: File): Seq[(String, Any)]
  /** Runs every operation once, untimed, and checks it. Returns
    * (attempted, failures as (op, cause)). Also warms caches and JIT. */
  def checkPass(spark: SparkSession): (Int, Seq[(String, String)])
  /** The operations of pass `n`, in the order they run. */
  def pass(spark: SparkSession, n: Int): Seq[Op]
  /** Untimed clean-up after pass `n`. */
  def afterPass(n: Int): Unit = ()
}

object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length
  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = s"${root.getClass.getSimpleName}: ${root.getMessage}"
    if (msg.length > 400) msg.take(400) + "…" else msg
  }
}
