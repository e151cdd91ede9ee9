package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.builder("local[4]", 4).getOrCreate()

  /** Recursive dir copy for index/store fixtures — walk stream CLOSED
    * (java.nio directory streams hold file handles until GC otherwise).
    */
  def copyDir(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val s = Paths.get(src)
    val d = Paths.get(dst)
    Files.createDirectories(d)
    val walk = Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Non-recursive child listing with the stream closed. */
  def listDir(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try st.iterator().asScala.toList finally st.close()
  }
}
