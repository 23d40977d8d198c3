package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Session.local` is the one place a session is configured: it carries
  * what [[PlanFingerprint.of]] requires, and no other source file builds
  * a session of its own.
  */
class SessionSpec extends AnyFunSuite {

  test("Session.local carries the confs PlanFingerprint.of requires") {
    val conf = Session.local(4).conf
    assert(conf.get("spark.sql.maxMetadataStringLength").toInt >= 100000)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }

  /** Files under `root` with a `SparkSession.builder` outside comments. */
  private def builders(root: String): Seq[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      val code = new String(Files.readAllBytes(f), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      "SparkSession\\s*\\.\\s*builder".r.findAllIn(code).map(_ => dir.relativize(f).toString)
    }
  }

  test("exactly one SparkSession builder in src/main, none in src/test") {
    assert(builders("src/main/scala") === Seq("graft/Session.scala"))
    assert(builders("src/test/scala") === Nil)
  }
}
