package graft.core.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path

/** The store swap protocol on plain dirs (one `v` file per part), so
  * every crash point is cheap to reach.
  */
class StoreDirSpec extends FaultSweep {

  private def scratch(tag: String): String =
    s"/tmp/graft_storedir_spec/p${java.lang.ProcessHandle.current().pid()}/$tag"

  private def put(dir: String, v: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/v"), v.getBytes(UTF_8))
  }

  private def get(dir: String): Option[String] =
    Option(Paths.get(s"$dir/v")).filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), UTF_8))

  /** Reader: recover, then each part's value. */
  private def contents(root: String, parts: Seq[String]): Seq[Option[String]] = {
    new StoreDir(spark, root).recover()
    val local = new Path(root).toUri.getPath
    parts.map(p => get(s"$local/$p"))
  }

  /** Writer: stage `v` for every part, then commit. */
  private def rewrite(root: String, parts: Seq[String], v: String): Unit = {
    val st = new StoreDir(spark, root)
    st.begin(parts)
    parts.foreach(p => put(new Path(st.stage(p)).toUri.getPath, v))
    st.commit(parts)
  }

  test("commit swaps every staged part in; an unstaged part keeps its live dir") {
    val root = scratch("commit")
    put(s"$root/a", "old"); put(s"$root/b", "old")
    val st = new StoreDir(spark, root)
    st.begin(Seq("a", "b"))
    put(s"$root/a__stage", "new")
    st.commit(Seq("a", "b"))
    assert(contents(root, Seq("a", "b")) == Seq(Some("new"), Some("old")))
    assert(strays(root).isEmpty)
  }

  test("a fault at every step of a three-part swap heals to old or new") {
    val master = scratch("sweep_master")
    // `c` has no live dir yet: its swap is a rename in, with nothing aside
    put(s"$master/a", "old"); put(s"$master/b", "old")
    val parts = Seq("a", "b", "c")
    val steps = sweepFaults(master, scratch("sweep"), rows = contents(_, parts))(
      rewrite(_, parts, "new"))(contents(_, parts))()
    // marker in, two renames per live part, one for c, three drops, marker out
    assert(steps == 1 + 2 + 2 + 1 + 2 + 1)
  }

  test("recover renames back an aside dir whose part is missing, and nothing else") {
    val root = scratch("unmarked")
    // the crash state of an unmarked single-dir swap between its renames
    put(s"$root/a__old", "old"); put(s"$root/a__new", "new")
    // after its second rename: the aside copy is a stray
    put(s"$root/b", "new"); put(s"$root/b__old", "old")
    // a writer is filling this stage: readers must leave it alone
    put(s"$root/c", "old"); put(s"$root/c__stage", "new")
    assert(contents(root, Seq("a", "b", "c")) ==
      Seq(Some("old"), Some("new"), Some("old")))
    assert(get(s"$root/c__stage").contains("new"))
    assert(get(s"$root/b__old").contains("old"))
    // a writer over those parts drops the strays before it stages
    new StoreDir(spark, root).begin(Seq("b", "c"))
    assert(strays(root).isEmpty)
  }

  test("a marker stamped by an earlier writer is finished forward") {
    val root = scratch("legacy_marker")
    // the multi-part swap crashed after `a` went aside
    put(s"$root/a__old", "old"); put(s"$root/a__stage", "new")
    put(s"$root/b", "old"); put(s"$root/b__stage", "new")
    Files.write(Paths.get(s"$root/_rebuild_swap"), "a,b".getBytes(UTF_8))
    assert(contents(root, Seq("a", "b")) == Seq(Some("new"), Some("new")))
    assert(strays(root).isEmpty)
  }

  test("foldSplit keeps the numerically newest b<N> and skips hidden files") {
    val dir = scratch("split")
    Seq("b9", "b10", "base").foreach(d => put(s"$dir/$d", "x"))
    Files.write(Paths.get(s"$dir/_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(s"$dir/part-0.parquet"), Array.emptyByteArray)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (fold, newest) = StoreDir.foldSplit(fs, new Path(dir))
    assert(newest.contains("b10"))
    assert(fold.map(_.getName).toSet == Set("b9", "base", "part-0.parquet"))
    assert(StoreDir.foldSplit(fs, new Path(s"$dir/missing")) == (Nil, None))
  }
}
