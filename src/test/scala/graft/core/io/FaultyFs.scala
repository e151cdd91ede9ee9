package graft.core.io

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Fault-injecting file system for crash specs: the fork-free local file
  * system under the `faulty:` scheme. While armed on a store root it
  * fails the k-th rename or delete whose path is a direct child of that
  * root, i.e. one step of the store's swap protocol (the renames Spark's
  * commit protocol makes inside a part dir are not counted). In
  * [[FaultyFs.Throw]] mode the op throws [[FaultyFs.Injected]]; in
  * [[FaultyFs.ReturnFalse]] mode it reports failure without acting, as
  * Hadoop's `rename` and `delete` may. Bind it with [[FaultyFs.bind]].
  */
class FaultyFs extends LocalFileSystem(new FaultyFs.Raw) {
  override def getScheme: String = FaultyFs.Scheme
  override def rename(src: Path, dst: Path): Boolean =
    FaultyFs.step("rename", src)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultyFs.step("delete", p)(super.delete(p, recursive))
}

object FaultyFs {
  val Scheme = "faulty"

  /** The raw layer, answering for `faulty:` paths. */
  class Raw extends ForkFreeRawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  sealed trait Mode
  case object Throw extends Mode
  case object ReturnFalse extends Mode

  final class Injected(msg: String) extends IOException(msg)

  private final class Arm(val k: Int, val mode: Mode, val child: String) { var seen = 0 }
  private val arms = new ConcurrentHashMap[String, Arm]()

  /** Bind the scheme in the session's Hadoop conf, as `Sessions.builder`
    * binds `file:`.
    */
  def bind(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[FaultyFs].getName)

  /** The absolute local dir `dir` under the faulty scheme. */
  def uri(dir: String): String = s"$Scheme://$dir"

  /** Run `op` with the k-th rename or delete of a child of the local dir
    * `root` (only of the child named `child`, when given) failing in
    * `mode`. Returns the failure `op` raised, if any, and the number of
    * such steps it reached (with `k = Int.MaxValue`: the number of steps
    * `op` takes).
    */
  def armed(root: String, k: Int, mode: Mode, child: String = "")
           (op: => Unit): (Option[Throwable], Int) = {
    val key = new Path(root).toUri.getPath
    val arm = new Arm(k, mode, child)
    arms.put(key, arm)
    val failure =
      try { op; None }
      catch { case e: Exception => Some(e) }
      finally arms.remove(key)
    (failure, arm.synchronized(arm.seen))
  }

  private def step(op: String, p: Path)(act: => Boolean): Boolean = {
    val arm = Option(p.getParent).flatMap(d => Option(arms.get(d.toUri.getPath)))
      .filter(a => a.child.isEmpty || a.child == p.getName)
    val fail = arm.exists { a => a.synchronized { a.seen += 1; a.seen == a.k } }
    if (!fail) act
    else arm.get.mode match {
      case Throw       => throw new Injected(s"injected fault: $op $p")
      case ReturnFalse => false
    }
  }
}
