package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Child sessions and the moves of DataFrames between sessions go through
  * `Bridge.fixedPlanSession` and `Bridge.onSession`: a hand-rolled child
  * session would carry its own list of parent confs, and a global temp view
  * outlives the call that made it. Source only: no Spark session. */
class SessionSourceSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val bridge = Paths.get("org/apache/spark/sql/graft/Bridge.scala")
  private val tokens = Seq("newSession(", "GlobalTempView", "global_temp")

  test("newSession(, GlobalTempView and global_temp occur under src/main/scala " +
       "only in Bridge.scala") {
    val files = Files.walk(root).iterator().asScala.toSeq.sorted
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(root.relativize(_) == bridge), s"no $bridge under ${root.toAbsolutePath}")
    val hits = for {
      path <- files
      file = root.relativize(path)
      if file != bridge
      (line, no) <- Files.readAllLines(path).asScala.zipWithIndex
      if tokens.exists(line.contains)
    } yield s"  $file:${no + 1}  ${line.trim}"
    assert(hits.isEmpty, "child sessions or global temp views outside Bridge:\n" +
      hits.mkString("\n"))
  }
}
