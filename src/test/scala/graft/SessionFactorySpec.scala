package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session factory, checked by machine: `GraftSession.local` fixes
  * the engine's conf (AQE, UTC, width, the `graft.functions`
  * extensions), so a main that spells its own builder runs a different
  * engine than the one the specs, Verify and the benchmarks run. And
  * no main source touches that conf: a setting made inside one would
  * change every concurrent query on the shared session. Nothing
  * under src/main clones the session either, only `Tables` spells
  * the exactly-once sink's `batch_id=<id>` subtree path or touches a
  * swapped table's heal and swap, and only `Stateful`'s shared fold
  * spells the per-user event-order sort.
  *
  * No Spark session: source walks, cheap enough for every `sbt test`.
  */
class SessionFactorySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaSources(dir: Path): List[Path] =
    scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  test("SparkSession.builder appears in no main source but GraftSession.scala") {
    val factory = root.resolve("graft/GraftSession.scala")
    val sources = scalaSources(root)
    assert(sources.contains(factory), s"$factory missing — the walk is looking elsewhere")
    // whitespace-tolerant: a builder chain split across lines counts too
    val builder = """SparkSession\s*\.\s*builder\b""".r
    def builds(p: Path): Boolean = builder.findFirstIn(read(p)).isDefined
    assert(builds(factory))
    val strays = sources.filter(p => p != factory && builds(p))
    assert(strays.isEmpty,
      s"hand-spelled session builders (use GraftSession.local): ${strays.mkString(", ")}")
  }

  test("no operator or stream sets session conf or clones a session") {
    // every main source, not only operators/ and streaming/: a main
    // (Bench's studies run on the one shared session) that sets conf
    // and restores it leaks the setting to anything it throws past
    val dirs = Seq("graft/operators", "graft/streaming").map(root.resolve)
    val sources = scalaSources(root)
    dirs.foreach(d => assert(sources.exists(_.startsWith(d)), s"no sources under $d"))
    // whitespace-tolerant, like the builder walk
    val confSet = """conf\s*\.\s*set\s*\(""".r
    val strays = sources.filter(p => confSet.findFirstIn(read(p)).isDefined)
    assert(strays.isEmpty,
      s"session conf set in a main source: ${strays.mkString(", ")}")
    // no main source clones a session at all: a clone splits the shared
    // session's conf map, and nothing in the engine needs a second one
    val cloners = scalaSources(root).filter(p => read(p).contains("cloneSession"))
    assert(cloners.isEmpty, s"session cloned in: ${cloners.mkString(", ")}")
    // one exactly-once sink: the batch's `batch_id=<id>` subtree path is
    // spelled in Tables alone (landBatch), never hand-copied into a
    // stream; an interpolated id, not a doc's `batch_id=<id>` or `=N`
    val sink = root.resolve("graft/sources/Tables.scala")
    val subtreePath = """batch_id=\$""".r
    def spellsSink(p: Path): Boolean = subtreePath.findFirstIn(read(p)).isDefined
    assert(spellsSink(sink), s"$sink no longer owns the sink — the walk is looking elsewhere")
    val copies = scalaSources(root).filter(p => p != sink && spellsSink(p))
    assert(copies.isEmpty,
      s"hand-copied exactly-once sinks (use Tables.landBatch): ${copies.mkString(", ")}")
    // nor does any main source, Tables included, bring back the batch id
    // as a partition column of the write: as a column it is a literal in
    // the plan, and every trigger compiles its write again
    val columnLayout = """partitionOverwriteMode|partitionBy\("batch_id"""".r
    val columnSinks = scalaSources(root).filter(p => columnLayout.findFirstIn(read(p)).isDefined)
    assert(columnSinks.isEmpty,
      s"batch_id written as a column (land through Tables.landBatch): ${columnSinks.mkString(", ")}")
  }

  test("recoverCrashedSwap and stagingSwap appear in no main source but Tables.scala") {
    val tables = root.resolve("graft/sources/Tables.scala")
    // a call, not a doc mention: whitespace-tolerant up to the paren
    val swapCall = """\b(?:recoverCrashedSwap|stagingSwap)\s*\(""".r
    def calls(p: Path): Boolean = swapCall.findFirstIn(read(p)).isDefined
    assert(calls(tables), s"$tables no longer heals swapped tables — the walk is looking elsewhere")
    // a hand-placed heal is the step a caller can put in the wrong
    // order; Tables' reads (readIfPresent, readLanded) and replaceTable
    // heal first whoever calls them
    val copies = scalaSources(root).filter(p => p != tables && calls(p))
    assert(copies.isEmpty,
      s"hand-placed crash heals or swaps (read through Tables.readLanded / " +
        s"readIfPresent, replace through Tables.replaceTable): ${copies.mkString(", ")}")
  }

  test("the full-precision event-order sort is spelled in Stateful's shared fold alone") {
    val stateful = root.resolve("graft/streaming/Stateful.scala")
    // a sort whose key reads the sub-second part of the event time:
    // whitespace-tolerant, and bounded to one brace-free expression
    val eventOrder = """(?s)\bsort(?:By|With|ed)\b[^;{}]{0,200}?toInstant\s*\.\s*getNano""".r
    def sorts(p: Path): Int = eventOrder.findAllIn(read(p)).size
    assert(sorts(stateful) == 1,
      s"$stateful spells the event-order sort ${sorts(stateful)} times — one per-user " +
        "fold (foldInOrder) behind inArrivalOrder and reorderedByWatermark")
    val copies = scalaSources(root).filter(p => p != stateful && sorts(p) > 0)
    assert(copies.isEmpty,
      s"hand-copied event-order folds (use Stateful's combinators): ${copies.mkString(", ")}")
  }
}
