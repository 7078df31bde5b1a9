package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session factory, checked by machine: `GraftSession.local` fixes
  * the engine's conf (AQE, UTC, width, the `graft.functions`
  * extensions), so a main that spells its own builder runs a different
  * engine than the one the specs, Verify and the benchmarks run.
  *
  * No Spark session: a source walk, cheap enough for every `sbt test`.
  */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder appears in no main source but GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    val factory = root.resolve("graft/GraftSession.scala")
    val sources = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)
    assert(sources.contains(factory), s"$factory missing — the walk is looking elsewhere")
    // whitespace-tolerant: a builder chain split across lines counts too
    val builder = """SparkSession\s*\.\s*builder\b""".r
    def builds(p: Path): Boolean = builder.findFirstIn(
      new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)).isDefined
    assert(builds(factory))
    val strays = sources.filter(p => p != factory && builds(p))
    assert(strays.isEmpty,
      s"hand-spelled session builders (use GraftSession.local): ${strays.mkString(", ")}")
  }
}
