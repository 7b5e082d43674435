package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract self-consistency (no Spark session needed). */
class ContractSpec extends AnyFunSuite {

  test("every oracle key names an implemented query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("every query has oracle SQL (q34's stub decode is SQL-exact too)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
  }

  test("query names are stable snake_case identifiers") {
    SparkEntry.queries.keys.foreach { k =>
      assert(k.matches("q\\d+_[a-z0-9_]+"), s"bad query name: $k")
    }
  }

  test("withTs2 adapts to every events.ts physical schema generation") {
    // the driver has regenerated testdata with events.ts as
    // TIMESTAMP(NANOS)-read-as-long in some rounds and
    // TIMESTAMP(MICROS)/NTZ in others; the same instant must come out
    // of withTs2 whichever generation is on disk
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val wall = "2024-01-07 12:34:56.789012"
    val micros = java.time.LocalDateTime
      .parse(wall.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
      .toEpochMilli * 1000L + 12L
    def ts2Of(df: org.apache.spark.sql.DataFrame): java.sql.Timestamp = {
      val out = Graft.withTs2(df)
      assert(out.schema("ts2").dataType == TimestampType)
      out.select(col("ts2")).head().getTimestamp(0)
    }
    val one = spark.range(1)
    val fromNanos = ts2Of(one.select((lit(micros) * 1000L).as("ts")))
    val fromNtz = ts2Of(one.select(
      lit(wall).cast(TimestampNTZType).as("ts")))
    val fromLtz = ts2Of(one.select(lit(wall).cast(TimestampType).as("ts")))
    assert(fromNanos == fromNtz && fromNtz == fromLtz,
      s"generations disagree: nanos=$fromNanos ntz=$fromNtz ltz=$fromLtz")
    assert(fromLtz.toInstant.toString == "2024-01-07T12:34:56.789012Z")
    val bad = intercept[IllegalArgumentException] {
      Graft.withTs2(one.select(lit("x").as("ts")))
    }
    assert(bad.getMessage.contains("unsupported events.ts type"))
  }

  test("fixture byte builders are declared only in graft.fixtures.FixtureBytes") {
    // query bodies, dev mains, the *Build encoders and the specs call the
    // one copy; a decoder's bounded reader `(b: Array[Byte], o: Int)` is
    // a different thing and stays with its decoder
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val names = Seq("ascii", "le16", "le32", "le64", "be", "be16", "be32",
      "byteHex", "le32hex", "hexOf", "pdfDoc", "docxDoc", "gz", "tarOf")
    val decl = ("\\bdef (" + names.mkString("|") + ")\\b(.*)").r
    val files = Seq(Paths.get("src/main/scala/graft/SparkEntry.scala"),
      Paths.get("src/main/scala/graft/ScaleShakeout.scala")) ++
      scalaFiles("src/main/scala/graft/expr")
        .filter(_.getFileName.toString.endsWith("Build.scala")) ++
      scalaFiles("src/test/scala")
    assert(files.forall(Files.isRegularFile(_)) && files.size > 20,
      s"run from the repository root: $files")
    val copies = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- decl.findFirstMatchIn(line)
      if !m.group(2).startsWith("(b: Array[Byte], o: Int)")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(copies.isEmpty,
      s"use graft.fixtures.FixtureBytes instead of a local copy:\n" +
        copies.mkString("\n"))
  }

  test("per-run timestamps reach generated code by reference, not as literals") {
    // Spark inlines a timestamp literal into the generated Java, so an
    // operator that takes its batch or as-of time as `lit(...)` compiles
    // new code for every run; Normalize.tsRef passes the value by
    // reference. `tsFormat(lit(...))` folds to a string literal, which
    // Spark already passes by reference, and stays allowed
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val inlined = """(?<!tsFormat\()\blit\(\s*(batchTs|asOf|ts)\s*\)""".r
    val files = Seq("operators", "pipeline", "streaming")
      .flatMap(d => scalaFiles(s"src/main/scala/graft/$d")) :+
      Paths.get("src/main/scala/graft/functions/Normalize.scala")
    assert(files.forall(Files.isRegularFile(_)) && files.size > 10,
      s"run from the repository root: $files")
    val literals = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if inlined.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}: $code"
    assert(literals.isEmpty,
      "pass per-run timestamps through Normalize.tsRef, not lit:\n" +
        literals.mkString("\n"))
  }

  test("tables resolve their filesystem from their path; no partition-overwrite commits") {
    // FileSystem.get(conf) is the DEFAULT filesystem, which fails with
    // "Wrong FS" on a table under any other scheme; a path's own
    // filesystem comes from Path.getFileSystem (or FileSystem.get(uri, conf)).
    // Dynamic partition overwrite is a second, weaker commit protocol
    // beside Tables.swapTable, and flips a session-wide conf.
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val files = Seq("sources", "pipeline", "streaming", "operators")
      .flatMap(d => scalaFiles(s"src/main/scala/graft/$d"))
    assert(files.forall(Files.isRegularFile(_)) && files.size > 10,
      s"run from the repository root: $files")
    // FileSystem.get with one argument, a Configuration, across lines too
    val defaultFsCall = """FileSystem\.get\(\s*[\w.]+(\(\))?\s*\)""".r
    val defaultFs = for {
      f <- files
      text = new String(Files.readAllBytes(f), "UTF-8")
      m <- defaultFsCall.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}"
    assert(defaultFs.isEmpty,
      "resolve a table's filesystem with new Path(p).getFileSystem(" +
        "spark.sessionState.newHadoopConf()):\n" + defaultFs.mkString("\n"))
    // the conf's last key segment is also the per-write option name
    val modeConf = org.apache.spark.sql.internal.SQLConf.PARTITION_OVERWRITE_MODE
    val overwrite = for {
      f <- scalaFiles("src/main/scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(modeConf.key.split('.').last) ||
        line.contains("PARTITION_OVERWRITE_MODE")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(overwrite.isEmpty,
      "commit tables through Tables.swapTable, not dynamic partition " +
        "overwrite:\n" + overwrite.mkString("\n"))
  }

  private def scalaFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  test("every query's output schema is unambiguous for the driver compare") {
    // the driver sorts columns BY NAME before hashing — duplicate or
    // unstable names would silently scramble the comparison
    val spark = SparkSpec.session
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, dir).columns.toSeq
      assert(cols.distinct.size == cols.size, s"$name duplicate columns: $cols")
      cols.foreach(c => assert(c.matches("[A-Za-z0-9_]+"), s"$name bad column: $c"))
    }
  }
}
