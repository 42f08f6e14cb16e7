package graft.sources

import graft.SparkSuite
import graft.mr.{JobTypeRegistry, MRJob}

import java.nio.file.Files

/** O1/O10 gateway parity: launch JSON in → MR job → JSON array out —
  * the reference's single_node.sh curl smoke, as library calls.
  */
class SourcesSpec extends SparkSuite {

  private def writeTemp(content: String, suffix: String = ".json"): String = {
    val f = Files.createTempFile("launch", suffix)
    Files.writeString(f, content)
    f.toString
  }

  test("launch JSON round-trip: ingest, run, sink (single_node.sh shape)") {
    val path = writeTemp(
      """{"name": "wc-test", "type": "wordcount", "mapper_num": 2,
        |"reducer_num": 2, "token": "ztorchan",
        |"kvs": [{"key": "k1", "value": "a b a"},
        |        {"key": "k2", "value": "b"},
        |        {"key": "k3", "value": "c a"}]}""".stripMargin)
    val Right(launch) = Sources.readLaunchJson(spark, path)
    assert(launch.name == "wc-test" && launch.jobType == "wordcount")
    assert(launch.mapperNum == 2 && launch.reducerNum == 2)
    val fns = JobTypeRegistry.lookup(launch.jobType).get
    val result = MRJob.run(spark, launch.kvs, fns.mapFn, fns.reduceFn,
      launch.mapperNum, launch.reducerNum).collect().toSeq
    assert(result == Seq("3", "2", "1")) // a=3, b=2, c=1 in key order
    val out = Files.createTempFile("result", ".json").toString
    Sources.writeResultJson(result, out)
    assert(Files.readString(java.nio.file.Paths.get(out)) == """["3","2","1"]""")
  }

  test("validation: empty kvs rejected (master.cc:533-535)") {
    val path = writeTemp(
      """{"name": "x", "type": "wordcount", "mapper_num": 1,
        |"reducer_num": 1, "token": "t", "kvs": []}""".stripMargin)
    assert(Sources.readLaunchJson(spark, path) == Left("kvs must be non-empty"))
  }

  test("validation: missing field rejected (gateway.cc:15-51)") {
    val path = writeTemp(
      """{"name": "x", "mapper_num": 1, "reducer_num": 1, "token": "t",
        |"kvs": [{"key": "a", "value": "b"}]}""".stripMargin)
    val res = Sources.readLaunchJson(spark, path)
    assert(res.isLeft && res.swap.exists(_.contains("type")))
  }

  test("malformed JSON rejected") {
    val path = writeTemp("""{"name": oops""")
    assert(Sources.readLaunchJson(spark, path).isLeft)
  }

  test("escaped characters survive the result sink") {
    val out = Files.createTempFile("result", ".json").toString
    Sources.writeResultJson(Seq("a\"b", "c\\d", "e\nf"), out)
    assert(Files.readString(java.nio.file.Paths.get(out)) ==
      "[\"a\\\"b\",\"c\\\\d\",\"e\\nf\"]")
  }

  test("csv source reads into the documents shape with schema validation") {
    val path = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello world,en,web,11
        |2,hola mundo,es,web,10""".stripMargin, suffix = ".csv")
    val Right(df) = Sources.readDocuments(spark, path, format = "csv")
    val rows = df.orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "hello world")
    assert(rows(1).getString(2) == "es" && rows(1).getLong(4) == 10L)
    // and the generic reader can feed the real query surface: the shape
    // matches the parquet documents table column-for-column
    assert(df.schema.fieldNames.toSeq ==
      graft.Tables.load(spark, sf, "documents").schema.fieldNames.toSeq)
  }

  test("csv source rejects rows with missing required fields (eager audit mode)") {
    val path = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello,en,web,5
        |,orphan,en,web,6""".stripMargin, suffix = ".csv")
    val res = Sources.readDocuments(spark, path, format = "csv", audit = true)
    assert(res.isLeft && res.swap.exists(_.contains("missing doc_id/text")))
  }

  test("default mode validates in a single scan: read is lazy, first action fails") {
    val bad = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello,en,web,5
        |,orphan,en,web,6""".stripMargin, suffix = ".csv")
    // No eager validation scan: the read returns Right even on a bad file
    // (the old two-scan audit would have returned Left here)...
    val res = Sources.readDocuments(spark, bad, format = "csv")
    assert(res.isRight)
    // ...and the consumer's FIRST action fails loudly on the bad row.
    val e = intercept[Exception](res.toOption.get.collect())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("missing doc_id/text"))),
      s"unexpected failure: $e")
    // A clean file flows through the same guard untouched.
    val good = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello,en,web,5
        |2,hola,es,web,4""".stripMargin, suffix = ".csv")
    val Right(df) = Sources.readDocuments(spark, good, format = "csv")
    assert(df.count() == 2)
  }

  test("csv source FAILFAST rejects ill-typed rows") {
    val path = writeTemp(
      """doc_id,text,lang,source,n_chars
        |not_a_number,hello,en,web,5""".stripMargin, suffix = ".csv")
    assert(Sources.readDocuments(spark, path, format = "csv", audit = true).isLeft)
    // default (single-scan) mode surfaces the same FAILFAST error at the
    // consumer's action instead
    val lazyRes = Sources.readDocuments(spark, path, format = "csv")
    assert(lazyRes.isRight)
    intercept[Exception](lazyRes.toOption.get.collect())
  }

  test("jsonl source reads the documents shape") {
    val path = writeTemp(
      """{"doc_id": 7, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}""",
      suffix = ".json")
    val Right(df) = Sources.readDocuments(spark, path, format = "json")
    val r = df.collect()(0)
    assert(r.getLong(0) == 7L && r.getString(1) == "bonjour" && r.getString(2) == "fr")
  }

  test("text-lines source: one value row per line (word_count client shape)") {
    val path = writeTemp("line one\nline two\nline three", suffix = ".txt")
    val lines = Sources.readTextLines(spark, path)
      .collect().map(_.getString(0)).toSeq
    assert(lines == Seq("line one", "line two", "line three"))
  }

  private val wellTyped =
    """{"name": "x", "type": "wordcount", "mapper_num": 1, "reducer_num": 1,
      |"token": "t", "kvs": [{"key": "a", "value": "b"}]}""".stripMargin

  test("validation: a kvs element without a string key and value is rejected") {
    val bad = Seq(
      """[{"key": "a"}]""", """[{"value": "b"}]""", """[{"key": "a", "value": null}]""",
      """[{"key": 1, "value": "b"}]""", """[{"key": "a", "value": {"x": 1}}]""",
      """[{"key": "a", "value": "b"}, "c"]""")
    bad.foreach { kvs =>
      val body = wellTyped.replace("""[{"key": "a", "value": "b"}]""", kvs)
      val parsed = Sources.parseLaunchJson(spark, body)
      assert(parsed.isLeft && parsed.swap.exists(_.contains("kvs[")), s"$kvs -> $parsed")
      assert(Sources.readLaunchJson(spark, writeTemp(body)).isLeft, kvs)
    }
  }

  test("validation: non-string name/type/token, a top-level array and trailing content are rejected") {
    Seq("name" -> "7", "type" -> "[\"wordcount\"]", "token" -> "null").foreach { case (f, v) =>
      val body = wellTyped.replaceFirst(s""""$f": "[^"]*"""", s""""$f": $v""")
      assert(body != wellTyped)
      val parsed = Sources.parseLaunchJson(spark, body)
      assert(parsed.isLeft && parsed.swap.exists(_.contains(f)), s"$body -> $parsed")
    }
    Seq(s"[$wellTyped]", wellTyped + " {}", wellTyped + " x").foreach { body =>
      assert(Sources.parseLaunchJson(spark, body).isLeft, body)
      assert(Sources.readLaunchJson(spark, writeTemp(body)).isLeft, body)
    }
  }

  test("a launch document is decoded without a Spark job, the same from a file") {
    val group = "sources-spec-parse"
    spark.sparkContext.setJobGroup(group, "launch decoding")
    val parsed = try Sources.parseLaunchJson(spark, wellTyped)
      finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    val Right(launch) = parsed
    assert(launch.name == "x" && launch.jobType == "wordcount" && launch.token == "t")
    assert(launch.mapperNum == 1 && launch.reducerNum == 1)
    assert(launch.kvs.collect().toSeq == Seq(("a", "b")))
    val Right(fromFile) = Sources.readLaunchJson(spark, writeTemp(wellTyped))
    assert(fromFile.copy(kvs = launch.kvs) == launch)
    assert(fromFile.kvs.collect().toSeq == Seq(("a", "b")))
    assert(Sources.readLaunchJson(spark, "/nonexistent/launch.json").isLeft)
  }

  test("a launch file may start with a UTF-8 byte order mark; single quotes are malformed") {
    val f = Files.createTempFile("launch", ".json")
    Files.write(f, Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      wellTyped.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val Right(launch) = Sources.readLaunchJson(spark, f.toString)
    assert(launch.name == "x" && launch.kvs.collect().toSeq == Seq(("a", "b")))
    val quoted = wellTyped.replace("\"name\": \"x\"", "'name': 'x'")
    assert(quoted != wellTyped)
    assert(Sources.parseLaunchJson(spark, quoted).isLeft)
    assert(Sources.readLaunchJson(spark, writeTemp(quoted)).isLeft)
  }
}
