package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The scenario table at sf0.01 scale (200 conversations) under a temp
  * cache root: each scenario's own `require`/`assert` checks are the
  * assertions. `gate` (50 micro-batches) is left to manual runs. */
class DriveSpec extends AnyFunSuite {
  lazy val spark = graft.EngineSpecFixture.spark
  private lazy val root = java.nio.file.Files.createTempDirectory("graft_drive_").toString
  private val sfDir = "/root/testdata/sf0.001"

  private def run(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Drive.run(spark, args, root, sfDir))
    out.toString("UTF-8")
  }

  // `delete` and `probe` come before the scenarios that would warm their
  // caches, so each shared artifact is also built on first use by one of them
  for (s <- Seq("delete", "build", "bulk", "prefilter", "dense", "probe", "dedup", "textops", "hygiene", "directory"))
    test(s"scenario $s runs its checks at 200 conversations") {
      run(s, "200")
    }

  test("scenario queries times the named SparkEntry queries") {
    val out = run("queries", "1", "q01_")
    assert(out.contains("\"metric\":\"queries_min\"") && out.contains("\"q01_pricing_summary\":"), out)
    assert(!out.contains(":-1.000"), out)
  }

  test("scenario plans writes one formatted plan per named query") {
    val dir = s"$root/plans"
    run("plans", dir, "after", "q01_")
    val plan = new java.io.File(s"$dir/q01_pricing_summary_after.txt")
    assert(plan.exists() && scala.io.Source.fromFile(plan).mkString.contains("Physical Plan"))
  }

  test("an unknown scenario prints the table and fails") {
    val out = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalArgumentException](
      Console.withOut(out)(Drive.run(spark, Seq("nosuch"), root, sfDir)))
    assert(e.getMessage.contains("nosuch"))
    val table = out.toString("UTF-8")
    Drive.scenarios.foreach(s => assert(table.contains(s.name), table))
  }
}
