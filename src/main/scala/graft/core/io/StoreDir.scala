package graft.core.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe replacement of a store's parts: the one swap routine of the
  * dedup, IVF and PQ stores.
  *
  * A store is a root dir whose child dirs are its parts (`postings`,
  * `labels`, ...). A writer calls [[begin]], writes each new part in full
  * to its [[stage]] sibling `<part>__stage` (readers never look there),
  * then calls [[commit]]:
  *
  *  1. the `_rebuild_swap` marker goes up, stamped with the part list (it
  *     is written aside and renamed in, so nobody reads half a list);
  *  2. each part is renamed aside to `<part>__old` and its stage renamed
  *     in;
  *  3. the `__old` dirs are dropped and the marker is cleared.
  *
  * [[recover]], which every reader and writer runs first, finishes a
  * marked swap forward. So a crash at any step leaves the complete old
  * store (marker not up yet) or the complete new one (marker up, and
  * every stage was complete before it went up). Without a marker it only
  * renames a `__old` back whose part is missing: the state a crash
  * between the two renames of an unmarked single-dir swap leaves, which
  * older stores can still hold. Readers never delete an unmarked stage,
  * since a writer may be filling it; [[begin]] drops a writer's strays.
  *
  * Every rename and delete is checked. A dir renamed onto an existing dir
  * lands inside it, so an unchecked failed rename-aside would nest the
  * new tree in the live part and every recursive read would count its
  * rows twice; here the op raises instead and the store stays as it was.
  */
final class StoreDir(val spark: SparkSession, root: String) {
  private val rootP = new Path(root)
  val fs: FileSystem = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val marker = new Path(rootP, "_rebuild_swap")
  private val markerStage = new Path(rootP, "_rebuild_swap__stage")

  private def live(part: String) = new Path(rootP, part)
  private def aside(part: String) = new Path(rootP, s"${part}__old")
  private def staged(part: String) = new Path(rootP, s"${part}__stage")

  /** The live dir of `part`. */
  def path(part: String): String = live(part).toString

  /** Where a writer writes the new `part` before [[commit]]. */
  def stage(part: String): String = staged(part).toString

  /** Writer entry: [[recover]], then drop the stage and aside strays of
    * `parts` that an earlier crashed writer left.
    */
  def begin(parts: Seq[String]): Unit = {
    recover()
    (markerStage +: parts.flatMap(p => Seq(staged(p), aside(p)))).foreach(drop)
  }

  /** Swap every staged part of `parts` in (a part with no stage keeps its
    * live dir).
    */
  def commit(parts: Seq[String]): Unit = {
    Storage.writeString(fs, markerStage, parts.mkString(","), overwrite = true)
    Storage.rename(fs, markerStage, marker)
    finish(parts)
  }

  /** Reader and writer entry: finish a marked swap, or rename back a
    * `__old` whose part is missing.
    */
  def recover(): Unit =
    if (fs.exists(marker))
      finish(Storage.readString(fs, marker).toOption.toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    else if (fs.exists(rootP))
      fs.listStatus(rootP).map(_.getPath.getName).filter(_.endsWith("__old"))
        .map(_.stripSuffix("__old"))
        .filterNot(p => fs.exists(live(p)))
        .foreach(p => Storage.rename(fs, aside(p), live(p)))

  private def finish(parts: Seq[String]): Unit = {
    parts.foreach(swap)
    parts.foreach(p => drop(aside(p)))
    drop(marker)
  }

  /** One part's swap, safe against a reader finishing the same swap at
    * the same time: a consumed stage is skipped, and a rename that reports
    * failure raises unless the end state shows the other side did it.
    */
  private def swap(part: String): Unit = {
    val (p, s, o) = (live(part), staged(part), aside(part))
    if (!fs.exists(s)) return
    if (fs.exists(p)) {
      drop(o) // stale: the live dir has not gone aside in this swap
      if (!fs.rename(p, o) && fs.exists(p))
        throw new java.io.IOException(s"store swap: could not rename $p to $o")
    }
    if (!fs.rename(s, p) && !(fs.exists(p) && !fs.exists(s)))
      throw new java.io.IOException(s"store swap: could not rename $s to $p")
  }

  private def drop(p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true) && fs.exists(p))
      throw new java.io.IOException(s"store swap: could not delete $p")
}

object StoreDir {

  /** Split a part dir of per-batch subdirs for a fold: every child except
    * the newest `b<N>` (hidden files aside), and that newest name. The
    * newest batch is the one unit a checkpoint restart can still replay,
    * so folds keep it as its own subdir. A missing dir splits to nothing.
    */
  def foldSplit(fs: FileSystem, dir: Path): (Seq[Path], Option[String]) =
    if (!fs.exists(dir)) (Nil, None)
    else {
      val entries = fs.listStatus(dir).toSeq.filterNot(s => s.isFile &&
        (s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
      val batch = "b(\\d+)".r
      val newest = entries.filter(_.isDirectory).map(_.getPath.getName)
        .collect { case n @ batch(i) => (i.toLong, n) }.maxOption.map(_._2)
      (entries.filterNot(s => s.isDirectory && newest.contains(s.getPath.getName))
        .map(_.getPath), newest)
    }
}
