package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its settings from its arguments and the Spark
  * session, never from the process environment: an environment
  * switch is frozen per JVM, can differ between driver and executors,
  * and leaves no trace in a query plan. Mains under `graft/` may read
  * the environment; the library packages below may not.
  */
class LibraryEnvSpec extends AnyFunSuite {

  test("no library package reads an environment variable") {
    val root = Paths.get("src/main/scala/graft")
    val offenders = Seq("operators", "functions", "plans", "sources", "streaming").flatMap { pkg =>
      val dir = root.resolve(pkg)
      assert(Files.isDirectory(dir), s"missing source directory $dir")
      val files = Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      files.flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("sys.env") || line.contains("System.getenv") =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("environment reads in library code:\n", "\n", ""))
  }

  // every spark.graft.* key is a knob users must learn; a new one
  // should be a visible decision, not a side effect of an A/B
  test("the library reads exactly five spark.graft.* keys") {
    val key = "\"spark\\.graft\\.([A-Za-z0-9_]+)".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val keys = files.flatMap(f => key.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
    assert(keys == Set(
      "checkpointDir", "barrierGateBytes", "shuffleHashMaxBytes", "shingleBarrierLeafBytes", "vectorCodec"))
  }
}
