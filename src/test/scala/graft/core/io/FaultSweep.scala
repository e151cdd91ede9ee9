package graft.core.io

import graft.SparkSpec
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path

/** Fault sweeps over a store op, driven by [[FaultyFs]]. */
trait FaultSweep extends SparkSpec {

  private def local(root: String): String = new Path(root).toUri.getPath

  private def swapArtifact(name: String): Boolean =
    name.endsWith("__stage") || name.endsWith("__old") || name.startsWith("_rebuild_swap")

  /** Swap artifacts left under a store root. */
  def strays(root: String): Seq[String] =
    listDir(local(root)).map(_.getFileName.toString).filter(swapArtifact)

  /** Every row of every live parquet part under the store `root`, tagged
    * with its part and kept with its multiplicity, plus the text of each
    * top-level file (checksum files and swap artifacts aside): the whole
    * store a reader can see, in one job.
    */
  def storeRows(root: String): Seq[String] = {
    val (dirs, files) = listDir(local(root))
      .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || swapArtifact(n) }
      .partition(Files.isDirectory(_))
    val text = files.map(f => s"${f.getFileName}=${new String(Files.readAllBytes(f), UTF_8)}")
    val rows = dirs.map(_.getFileName.toString).sorted.map { part =>
      spark.read.option("recursiveFileLookup", "true").parquet(s"$root/$part")
        .toJSON.map(r => s"$part:$r")(org.apache.spark.sql.Encoders.STRING)
    }.reduceOption(_ union _).toSeq.flatMap(_.collect())
    (text ++ rows).sorted
  }

  /** Relative path → CRC-32 of every file under `root`. */
  private def tree(root: String): Map[String, Long] = {
    val base = Paths.get(local(root))
    val walk = Files.walk(base)
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map { p =>
        val crc = new java.util.zip.CRC32
        crc.update(Files.readAllBytes(p))
        base.relativize(p).toString -> crc.getValue
      }.toMap
    finally walk.close()
  }

  /** Fail each rename/delete step of `op` in turn, in both modes, on a
    * copy of the local store `master` made under `scratch`. Per step,
    * after the failure the next `read` (a reader entry point, which runs
    * the store's recover) answers as the old store (step 1: the marker
    * never went up) or the new store (any later step), and every file on
    * disk is then exactly as in that complete state. A re-run from each
    * of the two states completes to the new store's `rows` (default: all
    * of them, [[storeRows]]), passes `settled` and leaves no swap
    * artifact. `op`, `read` and `rows` get a copy's `faulty:` root.
    * Returns the number of steps.
    *
    * Every step is one of the op's [[StoreDir.commit]]: a fault at step 1
    * (the marker going up) leaves the op's staged parts on disk, and each
    * later step is reached by running that commit over a copy of this
    * state, so the op stages once however many steps it has. The
    * commit-only state stands for the new store, so `read` and `rows` must
    * not see what an op writes before its staging or after its commit (a
    * batch's replay unit, its version snapshot).
    */
  def sweepFaults[A](master: String, scratch: String, rows: String => Any = storeRows)
                    (op: String => Unit)
                    (read: String => A)(settled: String => Unit = _ => ()): Int = {
    FaultyFs.bind(spark)
    val oldAnswer = read(FaultyFs.uri(master))
    val staged = s"$scratch/staged"
    copyDir(master, staged)
    val (first, _) = FaultyFs.armed(staged, 1, FaultyFs.Throw)(op(FaultyFs.uri(staged)))
    assert(first.exists(_.isInstanceOf[FaultyFs.Injected]), s"step 1 did not fail: $first")
    assert(read(FaultyFs.uri(staged)) == oldAnswer &&
      rows(FaultyFs.uri(staged)) == rows(FaultyFs.uri(master)),
      "staged parts are visible to readers")
    val parts = new String(Files.readAllBytes(Paths.get(s"$staged/_rebuild_swap__stage")),
      UTF_8).split(",").toSeq
    def commit(dir: String, k: Int, mode: FaultyFs.Mode) = FaultyFs.armed(dir, k, mode)(
      new StoreDir(spark, FaultyFs.uri(dir)).commit(parts))
    val done = s"$scratch/done"
    copyDir(staged, done)
    val (clean, steps) = commit(done, Int.MaxValue, FaultyFs.Throw)
    assert(clean.isEmpty, s"unfaulted commit failed: $clean")
    val newAnswer = read(FaultyFs.uri(done))
    val newRows = rows(FaultyFs.uri(done))
    val (oldTree, newTree) = (tree(staged), tree(done))
    for (k <- 1 to steps; mode <- Seq(FaultyFs.Throw, FaultyFs.ReturnFalse)) {
      val at = s"step $k of $steps, $mode"
      val dir = s"$scratch/k${k}_$mode"
      copyDir(staged, dir)
      val (failure, _) = commit(dir, k, mode)
      assert(failure.nonEmpty, s"commit went on after a failed $at")
      assert(read(FaultyFs.uri(dir)) == (if (k == 1) oldAnswer else newAnswer),
        s"read after $at")
      assert(tree(dir) == (if (k == 1) oldTree else newTree), s"store after $at")
    }
    Seq(staged, done).foreach { dir =>
      op(FaultyFs.uri(dir))
      assert(read(FaultyFs.uri(dir)) == newAnswer && rows(FaultyFs.uri(dir)) == newRows,
        s"re-run from $dir")
      settled(dir)
      assert(strays(dir).isEmpty, s"strays after the re-run from $dir")
    }
    steps
  }
}
