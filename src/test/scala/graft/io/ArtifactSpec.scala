package graft.io

import java.nio.file.{Files, Paths}

import graft.{Conf, SparkSpec, TempDirSpec}

class ArtifactSpec extends SparkSpec with TempDirSpec {

  /** A session whose work dir is this suite's temp dir. */
  private lazy val session = {
    val s = spark.newSession()
    s.conf.set(Conf.WorkDirKey, s"$tempDir/work")
    s
  }

  /** A source dir holding one file. */
  private lazy val source = {
    val dir = Files.createDirectories(Paths.get(tempDir, "source"))
    Files.writeString(dir.resolve("data.txt"), "rows")
    dir.toString
  }

  test("build runs once; the second call returns the same path") {
    var builds = 0
    def ensure() = Artifact.ensure(session, "once", source, "a_b", 3) { path =>
      builds += 1
      Files.createDirectories(Paths.get(path))
    }
    val first = ensure()
    assert(first.startsWith(s"$tempDir/work/"), first)
    assert(ensure() == first)
    assert(builds == 1)
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    var builds = 0
    def ensure(fail: Boolean) = Artifact.ensure(session, "throws", source) { _ =>
      builds += 1
      if (fail) throw new IllegalStateException("build failed")
    }
    intercept[IllegalStateException](ensure(fail = true))
    val path = ensure(fail = false)
    assert(builds == 2)
    ensure(fail = false)
    assert(builds == 2)
    // marked complete now: a build at its path does not run
    Artifact.once(session, path)(fail("not marked complete"))
  }

  test("touching the source's mtime gives a new key") {
    val before = Artifact.path(session, "touched", source)
    val file = Paths.get(source, "data.txt")
    Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(file).toMillis + 60000L))
    assert(Artifact.path(session, "touched", source) != before)
  }

  test("params are keyed injectively: doubles one ulp apart, strings holding the separator") {
    val d = 0.3
    assert(Artifact.path(session, "ulp", source, d) !=
      Artifact.path(session, "ulp", source, java.lang.Math.nextUp(d)))
    assert(Artifact.path(session, "sep", source, "a_b", "c") !=
      Artifact.path(session, "sep", source, "a", "b_c"))
  }

  test("openStaged prunes a batch without _SUCCESS and launches no job") {
    val staged = s"$tempDir/staged"
    for (id <- 0 until 2)
      session.range(id * 10, id * 10 + 5).toDF("x")
        .write.mode("overwrite").parquet(s"$staged/batch_id=$id")
    Files.delete(Paths.get(staged, "batch_id=1", "_SUCCESS"))
    val (frame, jobs) = jobsDuring(Artifact.openStaged(session, staged))
    assert(jobs == 0, s"openStaged launched $jobs job(s)")
    assert(frame.columns.toSeq == Seq("x"))
    assert(frame.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
  }
}
