package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared artifact catalog (`sources.Artifact.all`): every store
  * must survive the builds of every other store. The store GCs sibling
  * subs of a kind on each build, so two declarations sharing a kind
  * delete each other — round 22 lost three rounds to exactly that
  * (the four derived MOT tables under one kind, rebuilt inside timed
  * regions).
  */
class ArtifactCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = new java.io.File("/root/testdata/sf0.001")

  test("every declared store coexists after the whole catalog builds in declaration order") {
    val all = sources.Artifact.all
    val dirs = all.map(a => a -> a(spark, sf.getPath))
    dirs.foreach { case (a, dir) =>
      assert(new java.io.File(dir, "_SUCCESS").exists(),
        s"${a.name} ($dir) lost its _SUCCESS to a later build")
    }
    val shared = all.groupBy(_.kind).collect { case (k, as) if as.size > 1 => k }
    assert(shared.isEmpty, s"kinds declared more than once: ${shared.mkString(", ")}")
  }

  test("maintenance sets derive from declared sources, in report order") {
    def over(table: String) =
      sources.Artifact.all.filter(_.sources == Seq(table)).map(_.name)
    assert(over("documents.parquet") ==
      Seq("band", "gram", "clusters", "simhash", "dsir", "clf", "decontam"))
    assert(over("embeddings.parquet") == Seq("index", "sem", "corpus"))
  }

  test("building a derived table deletes the legacy shared-kind root") {
    val d = java.nio.file.Files.createTempDirectory("graft_legacy_").toFile
    d.deleteOnExit()
    // fresh copies of the two keyed sources = a generation never built;
    // the derivation registers every base table, so link the rest
    sf.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val to = new java.io.File(d, f.getName)
      if (Seq("lineitem.parquet", "embeddings.parquet").contains(f.getName))
        spark.read.parquet(f.getPath).coalesce(1)
          .write.mode("overwrite").parquet(to.getAbsolutePath)
      else java.nio.file.Files.createSymbolicLink(to.toPath, f.toPath)
    }
    val legacy = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_derived_artifact")
    val planted = new java.io.File(legacy, "0123456789ab/gt/abc")
    planted.mkdirs()
    java.nio.file.Files.writeString(planted.toPath.resolve("_SUCCESS"), "")
    assert(Derived.table(spark, d.getAbsolutePath, "dets").count() > 0)
    assert(!legacy.exists(), s"legacy kind root $legacy survived a derived build")
  }
}
