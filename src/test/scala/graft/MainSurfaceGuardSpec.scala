package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the program's entry points and environment knobs a reviewed
  * list: both allow-lists are EXACT, so a new `main` or `SPARK_GRAFT_*`
  * knob under `src/main/scala` — or a stale entry — fails here and shows
  * up as a test diff. JSON goes through one codec: one file builds a
  * Jackson mapper. Copied blocks are a reviewed list too: a new
  * six-line verbatim run fails here.
  */
class MainSurfaceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")

  private def sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector)
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  test("the objects defining main are exactly the reviewed entry points") {
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    val ObjOrMain = """(?m)\bobject\s+(\w+)|\bdef\s+main\s*\(""".r
    val mains = sources.flatMap { case (_, src) =>
      val pkg = Pkg.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
        .stripPrefix("graft").stripPrefix(".")
      var owner = ""
      ObjOrMain.findAllMatchIn(src).flatMap { m =>
        if (m.group(1) != null) { owner = m.group(1); None }
        else Some(if (pkg.isEmpty) owner else s"$pkg.$owner")
      }.toVector
    }
    assert(mains.sorted == Seq(
      "Bench", "ClusterProbe", "QueryProfile", "Verify", "probe.KillableJob"))
  }

  test("the SPARK_GRAFT_* knobs read are exactly the reviewed set") {
    val Knob = """SPARK_GRAFT_[A-Z0-9_]+""".r
    val knobs = sources.flatMap { case (_, src) => Knob.findAllIn(src) }.toSet
    assert(knobs.toSeq.sorted == Seq(
      "SPARK_GRAFT_BENCH_CONVS", "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_CLUSTER_CONVS",
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_CS_WIN", "SPARK_GRAFT_DECIMAL38",
      "SPARK_GRAFT_LINEAR_RUNS", "SPARK_GRAFT_NO_AQE", "SPARK_GRAFT_NO_SHARE",
      "SPARK_GRAFT_QUERY_REPS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SKIP_CLUSTER",
      "SPARK_GRAFT_SKIP_QUERIES"))
  }

  test("the six-line verbatim runs of src/main/scala are exactly the reviewed set") {
    // A run is six consecutive trimmed lines, each longer than 3
    // characters and not a `//` or `*` comment line, that occur at two
    // or more places. Counted: the lines inside any run, per file.
    val window = 6
    def counts(l: String) = l.length > 3 && !l.startsWith("//") && !l.startsWith("*")
    val files = sources.map { case (p, src) =>
      root.relativize(p).toString -> src.split("\n", -1).map(_.trim).toVector
    }
    val at = scala.collection.mutable.HashMap.empty[Vector[String], Vector[(String, Int)]]
    for ((f, ls) <- files; i <- 0 to ls.length - window) {
      val w = ls.slice(i, i + window)
      if (w.forall(counts)) at(w) = at.getOrElse(w, Vector.empty) :+ (f -> i)
    }
    val inRuns = at.values.filter(_.size >= 2).flatten
      .flatMap { case (f, i) => (i until i + window).map(f -> _) }.toSet
    val perFile = inRuns.groupBy(_._1).map { case (f, ls) => f -> ls.size }
    // the typed merge loops (and imports) of the Long and Double vector
    // aggregates, and the shared overrides of the two as-of join execs
    assert(perFile == Map(
      "graft/functions/GramAgg.scala" -> 13,
      "graft/functions/VecSumAgg.scala" -> 13,
      "graft/plans/AsofJoin.scala" -> 12))
  }

  test("a Jackson mapper is built in one src/main file: the JSON codec") {
    val Mapper = """\bnew\s+(?:ObjectMapper|JsonMapper)\b|\bJsonMapper\s*\.\s*builder\b""".r
    val builders = sources.collect {
      case (p, src) if Mapper.findFirstIn(src).nonEmpty => root.relativize(p).toString
    }
    assert(builders == Seq("graft/JsonCodec.scala"))
  }
}
