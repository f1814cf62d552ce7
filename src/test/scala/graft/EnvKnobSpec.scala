package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** No-new-knobs guard: the engine reads only the deployment settings
  * below from the environment, each by literal name. A one-off
  * measurement switch belongs in a throwaway copy of the tree, not in
  * `src/main/scala`; adding a setting here is a deliberate review
  * decision, not a side effect. */
class EnvKnobSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_CPUS", // GraftSession: local[N] cores and shuffle partitions
    "SPARK_GRAFT_SF_DIR", // Bench/PlanDump: fixture dir
    "SPARK_GRAFT_OUT_DIR", // Bench: where bench_out.json lands
    "SPARK_GRAFT_STEADY_RANGES", // Bench: steady ranges file override
    "SPARK_GRAFT_NO_STEADY") // Bench: skip the steady re-measurement

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val it = Files.walk(root).iterator()
    val b = Seq.newBuilder[(Path, String)]
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala")) b += p -> Files.readString(p)
    }
    b.result()
  }

  test("every environment read in src/main/scala names an allowlisted setting by literal") {
    val read = """sys\.env\b|System\.getenv\b""".r
    val literal =
      """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\s*\(\s*"([A-Za-z0-9_]+)"""".r
    val found = sources.flatMap { case (p, src) =>
      read.findAllMatchIn(src).map { m =>
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        literal.findPrefixMatchOf(src.substring(m.start))
          .map(_.group(1)).toRight(s"$p:$line: env read without a literal name")
      }
    }
    val nonLiteral = found.collect { case Left(where) => where }
    assert(nonLiteral.isEmpty, nonLiteral.mkString("\n"))
    val names = found.collect { case Right(n) => n }.toSet
    assert(names.nonEmpty, "no env reads found: the scan is broken")
    assert(names.subsetOf(allowed),
      s"env settings outside the allowlist: ${(names -- allowed).toSeq.sorted.mkString(", ")}")
  }

  test("no SPARK_GRAFT_* name outside the allowlist appears in src/main/scala") {
    val token = """SPARK_GRAFT_[A-Z0-9_]+""".r
    val stray = sources.flatMap { case (p, src) =>
      token.findAllIn(src).filterNot(allowed).map(t => s"$p: $t")
    }
    assert(stray.isEmpty, stray.distinct.mkString("\n"))
  }
}
