package graft.stage

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Stage code takes its choices from its arguments and `FuzzyConf`, never
  * from JVM properties or the environment: a run's plan must follow from
  * what the caller passed.
  */
class StageSeamSpec extends AnyFunSuite with Matchers {

  test("no file under graft/stage reads system properties or the environment") {
    val dir = java.nio.file.Paths.get("src", "main", "scala", "graft", "stage")
    java.nio.file.Files.isDirectory(dir) shouldBe true
    val files = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    files should not be empty
    val reads = Seq("sys.props", "sys.env", "System.getenv", "System.getProperty")
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      r <- reads if line.contains(r)
    } yield s"${f.getFileName}:${i + 1}: $r"
    hits shouldBe empty
  }
}
