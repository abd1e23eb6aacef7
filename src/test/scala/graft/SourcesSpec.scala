package graft

import graft.sources.Resolver
import graft.spec.DatasetRef
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("S5 csv roundtrip with header + inferSchema") {
    val dir = tempDir("graft_csv")
    sf("region").write.option("header", "true").csv(s"$dir/region.csv")
    val back = Resolver.read(spark, DatasetRef("csv", dir, "region"))
    assert(back.count() == 5)
    assert(back.schema("r_regionkey").dataType.isInstanceOf[NumericType])
  }

  test("TIMESTAMP(NANOS) parquet normalizes on latest AND _version reads") {
    // pyarrow-written nano fixture: illegal for the plain Spark reader
    // ([PARQUET_TYPE_ILLEGAL]); Resolver converts to micros on every
    // read path, including time travel over a versioned layout
    val fixture = getClass.getResource("/nano_fixture.parquet")
    assume(fixture != null, "nano fixture missing")
    val src = new java.io.File(fixture.toURI).toPath
    val dir = tempDir("graft_nano")
    val ds = s"$dir/ev.parquet"
    // hand-build a 2-generation versioned layout containing the nano file
    for (v <- Seq("_v_00000000000000000001", "_v_00000000000000000002")) {
      Files.createDirectories(java.nio.file.Paths.get(s"$ds/$v"))
      Files.copy(src, java.nio.file.Paths.get(s"$ds/$v/part-0.parquet"))
      Files.createFile(java.nio.file.Paths.get(s"$ds/$v/_COMMITTED"))
    }
    val latest = Resolver.readParquet(spark, ds)
    assert(latest.schema("ts").dataType == TimestampType && latest.count() == 3)
    val pinned = Resolver.readParquet(spark, ds, Some(1L))
    assert(pinned.schema("ts").dataType == TimestampType && pinned.count() == 3)
    assert(pinned.agg(max(col("ts")).cast("string")).head().getString(0)
      .startsWith("2026-01-01 00:00:03"))
  }

  test("W11 explicit schema (tmap) overrides inference") {
    val dir = tempDir("graft_csv2")
    sf("region").write.option("header", "true").csv(s"$dir/r.csv")
    val mapped = StructType(Seq(
      StructField("r_regionkey", StringType), // force string
      StructField("r_name", StringType)))
    val back = Resolver.read(spark, DatasetRef("csv", dir, "r"), Some(mapped))
    assert(back.schema("r_regionkey").dataType == StringType)
  }

  test("S5 orc roundtrip: scan, wildcard listing, keyed write, stream read") {
    val dir = tempDir("graft_orc")
    sf("region").write.orc(s"$dir/region.orc")
    sf("nation").write.orc(s"$dir/nation.orc")
    // scan: self-describing columnar, schema preserved
    val back = Resolver.read(spark, DatasetRef("orc", dir, "region"))
    assert(back.count() == 5 &&
      back.schema("r_regionkey").dataType.isInstanceOf[NumericType])
    // wildcard fan-out sees .orc datasets
    val expanded = Resolver.expandWildcard(spark, DatasetRef("orc", dir, "*ion"))
    assert(expanded.map(_.name).sorted == Seq("nation", "region"))
    // streaming scan of the same ref
    val tgt = s"$dir/stream_out"
    graft.streaming.StreamRunner.runAvailableNow(spark,
      graft.streaming.StreamRunner.readStream(spark, DatasetRef("orc", dir, "region")),
      df => df.filter(col("r_regionkey") >= 0), tgt, s"$dir/ckp")
    assert(spark.read.parquet(tgt).count() == 5)
  }

  test("S5 csv/json/orc TARGETS write in their own format (roundtrip via engine)") {
    import graft.engine.Runner
    import graft.spec._
    val dir = tempDir("graft_tgt_fmt")
    for (backend <- Seq("csv", "json", "orc")) {
      val job = JobSpec(
        SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
        target = Some(TargetSpec(DatasetRef(backend, dir, s"region_$backend"),
          op = WriteOp.Create, skipTimestamp = true)))
      Runner.execute(spark, job, log = false)
      val back = Resolver.read(spark, DatasetRef(backend, dir, s"region_$backend"))
      assert(back.count() == 5, s"backend $backend")
      assert(back.columns.contains("r_name"))
    }
  }

  test("W14 fail_on_error: FAILFAST vs skip on malformed csv") {
    val dir = tempDir("graft_foe_csv")
    Files.createDirectory(java.nio.file.Paths.get(dir, "bad.csv"))
    Files.write(java.nio.file.Paths.get(dir, "bad.csv", "part-0.csv"),
      "a,b\n1,2\nnot_a_number,also_bad\n3,4\n".getBytes)
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType)))
    val ref = DatasetRef("csv", dir, "bad")
    // default (true): the malformed record fails the job loudly
    intercept[org.apache.spark.SparkException] {
      Resolver.read(spark, ref, Some(schema)).collect()
    }
    // false: bad record skipped, the job continues (reference behavior)
    val kept = Resolver.read(spark, ref, Some(schema), failOnError = false)
    assert(rows(kept.orderBy("a")) == Seq(Seq(1, 2), Seq(3, 4)))
  }

  test("W14 fail_on_error: FAILFAST vs skip on malformed json") {
    val dir = tempDir("graft_foe_json")
    Files.createDirectory(java.nio.file.Paths.get(dir, "bad.json"))
    Files.write(java.nio.file.Paths.get(dir, "bad.json", "part-0.json"),
      """{"a": 1}
        |{broken json!!
        |{"a": 3}
        |""".stripMargin.getBytes)
    val schema = StructType(Seq(StructField("a", IntegerType)))
    val ref = DatasetRef("json", dir, "bad")
    intercept[org.apache.spark.SparkException] {
      Resolver.read(spark, ref, Some(schema)).collect()
    }
    val kept = Resolver.read(spark, ref, Some(schema), failOnError = false)
    assert(rows(kept.orderBy("a")) == Seq(Seq(1), Seq(3)))
  }

  test("W14 fail_on_error wired end-to-end: --fail-on-error false skips bad rows") {
    import graft.engine.Runner
    import graft.spec._
    val dir = tempDir("graft_foe_e2e")
    Files.createDirectory(java.nio.file.Paths.get(dir, "src.json"))
    Files.write(java.nio.file.Paths.get(dir, "src.json", "part-0.json"),
      "{\"k\": 1}\nnot json\n{\"k\": 2}\n".getBytes)
    val (job, _) = graft.cli.Main.parse(Array(
      "-s", s"json/$dir/src", "-t", s"parquet/$dir/out",
      "-o", "create", "--skip-timestamp", "--fail-on-error", "false"))
    assert(job.target.exists(!_.failOnError))
    val r = Runner.execute(spark, job, log = false)
    assert(r.written == 2)
    // and the default job (no flag) FAILFASTs on the same source
    val (strict, _) = graft.cli.Main.parse(Array(
      "-s", s"json/$dir/src", "-t", s"parquet/$dir/out2",
      "-o", "create", "--skip-timestamp"))
    assert(strict.target.exists(_.failOnError))
    intercept[org.apache.spark.SparkException] {
      Runner.execute(spark, strict, log = false)
    }
    // target-less jobs honor the flag too (count/preview path)
    val (noTgt, _) = graft.cli.Main.parse(Array(
      "-s", s"json/$dir/src", "--fail-on-error", "false"))
    assert(!noTgt.effectiveFailOnError)
    assert(Runner.count(spark, noTgt.source, noTgt.effectiveFailOnError) == 2)
    assert(graft.engine.Planner.plan(spark, noTgt).count() == 2)
  }

  test("json source") {
    val dir = tempDir("graft_json")
    sf("nation").write.json(s"$dir/nation.json")
    val back = Resolver.read(spark, DatasetRef("json", dir, "nation"))
    assert(back.count() == 25)
  }

  test("S4/F8 http source: driver-side fetch, single-record semantics") {
    // file:// URL exercises the same driver-fetch path as http://
    val f = java.nio.file.Paths.get(tempDir("graft_http"), "doc.json")
    Files.writeString(f, """{"city": "x", "pop": 7}""")
    val ref = DatasetRef("http", s"file:${f.getParent}", f.getFileName.toString)
    val df = Resolver.read(spark, ref)
    assert(df.count() == 1)
    assert(df.select("city").as[String].head() == "x")
  }

  test("S2 mongo connector options: format dispatch + $match pipeline mapping") {
    val (fmt, opts) = Resolver.connectorOptions(
      graft.spec.DatasetRef("mongodb", "appdb", "users"),
      Seq("age__gte" -> "30", "city" -> "rome", "tag__in" -> "a,b",
        "score__between" -> "1.5,2", "name__contains" -> "x", // not pushable
        "_limit" -> "5")) // control keys never push
    assert(fmt == "mongodb")
    assert(opts("database") == "appdb" && opts("collection") == "users")
    assert(opts("aggregation.pipeline") ==
      """[{"$match": {"age": {"$gte": 30}, "city": "rome", """ +
        """"tag": {"$in": ["a", "b"]}, "score": {"$gte": 1.5, "$lte": 2}}}]""")
  }

  test("connector pushdown: the full F2 suffix table compiles per documented mapping") {
    // one row per query-DSL op: (query pair, expected mongo $match
    // fragment or None = engine-side only, expected es bool fragment
    // or None). Over-inclusion is safe (the engine re-applies every
    // predicate); the Nones document deliberate non-pushes.
    val table: Seq[((String, String), Option[String], Option[String])] = Seq(
      ("f" -> "x", Some(""""f": "x""""), Some("""{"term": {"f": "x"}}""")),
      ("f__eq" -> "1", Some(""""f": 1"""), Some("""{"term": {"f": 1}}""")),
      ("f__ne" -> "x", Some(""""f": {"$ne": "x"}"""),
        Some("""{"term": {"f": "x"}}""")), // lands in must_not
      ("f__gt" -> "3", Some(""""f": {"$gt": 3}"""), Some("""{"range": {"f": {"gt": 3}}}""")),
      ("f__gte" -> "3", Some(""""f": {"$gte": 3}"""), Some("""{"range": {"f": {"gte": 3}}}""")),
      ("f__lt" -> "3", Some(""""f": {"$lt": 3}"""), Some("""{"range": {"f": {"lt": 3}}}""")),
      ("f__lte" -> "3", Some(""""f": {"$lte": 3}"""), Some("""{"range": {"f": {"lte": 3}}}""")),
      ("f__in" -> "a,b", Some(""""f": {"$in": ["a", "b"]}"""),
        Some("""{"terms": {"f": ["a", "b"]}}""")),
      ("f__nin" -> "a,b", Some(""""f": {"$nin": ["a", "b"]}"""),
        Some("""{"terms": {"f": ["a", "b"]}}""")), // must_not
      ("f__exists" -> "1", Some(""""f": {"$exists": true}"""),
        Some("""{"exists": {"field": "f"}}""")),
      // negative exists NEVER pushes: store "missing" ≠ engine isNull
      ("f__exists" -> "0", None, None),
      ("f__regex" -> "^a.*b$", Some(""""f": {"$regex": "^a.*b$"}"""), None),
      ("f__between" -> "1,9", Some(""""f": {"$gte": 1, "$lte": 9}"""),
        Some("""{"range": {"f": {"gte": 1, "lte": 9}}}""")),
      // string ops + null-safe eq variants stay engine-side everywhere
      ("f__contains" -> "x", None, None),
      ("f__startswith" -> "x", None, None),
      ("f__endswith" -> "x", None, None),
      ("f__nse" -> "x", None, None),
      ("f__nsne" -> "x", None, None),
      // control keys never push
      ("_limit" -> "5", None, None),
      ("_sort" -> "f", None, None))
    for ((pair, mongoFrag, esFrag) <- table) {
      val mp = Resolver.mongoPipeline(Seq(pair))
      mongoFrag match {
        case Some(frag) => assert(mp.contains(frag), s"mongo $pair: $mp")
        case None => assert(mp == "[]", s"mongo $pair must not push: $mp")
      }
      val eq = Resolver.esQuery(Seq(pair))
      esFrag match {
        case Some(frag) => assert(eq.contains(frag), s"es $pair: $eq")
        case None => assert(eq == """{"query": {"match_all": {}}}""",
          s"es $pair must not push: $eq")
      }
    }
    // direction check: ne/nin sit in must_not, not filter
    val neq = Resolver.esQuery(Seq("f__ne" -> "x"))
    assert(neq.contains("must_not") && !neq.contains("filter"))
  }

  test("S3 es connector options: bool filter/must_not query mapping") {
    val (fmt, opts) = Resolver.connectorOptions(
      graft.spec.DatasetRef("es", "logs", "events"),
      Seq("level" -> "warn", "code__ne" -> "200", "ts__gte" -> "2024",
        "user__exists" -> "0")) // exists=0 must NOT push (null-vs-missing)
    assert(fmt == "org.elasticsearch.spark.sql")
    assert(opts("es.resource") == "logs.events")
    assert(opts("es.query") ==
      """{"query": {"bool": {"filter": [{"term": {"level": "warn"}}, """ +
        """{"range": {"ts": {"gte": 2024}}}], """ +
        """"must_not": [{"term": {"code": 200}}]}}}""")
  }

  test("S2/S3 connector absent: read falls back to the parquet stand-in") {
    val dir = tempDir("graft_conn")
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
      .write.parquet(s"$dir/users.parquet")
    // no mongo connector jar on this classpath → stand-in read
    val df = Resolver.read(spark,
      graft.spec.DatasetRef("mongodb", dir, "users"),
      query = Seq("tag" -> "a"))
    assert(df.count() == 2) // raw stand-in; predicates re-apply in Planner
    // the full engine path applies the DSL on top of the fallback
    val planned = graft.engine.Planner.plan(spark, graft.spec.JobSpec(
      graft.spec.SourceSpec(graft.spec.DatasetRef("mongodb", dir, "users"),
        query = Seq("tag" -> "a"))))
    assert(planned.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  /** Spark jobs started while `body` runs (listener bus drained). */
  private def jobsDuring(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      awaitQuiet(() => jobs.get())
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** A parquet file written by parquet-mr itself: no Spark schema in its
    * key-value metadata, so a read converts the parquet schema.
    */
  private def writeParquetMr(path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional boolean b;
        |  optional int32 i8 (INTEGER(8,true));
        |  optional int32 i16 (INTEGER(16,true));
        |  optional int32 i32;
        |  optional float f32;
        |  optional double f64;
        |  optional binary str (STRING);
        |  optional binary bin;
        |  optional int32 dt (DATE);
        |  optional int64 ts (TIMESTAMP(MICROS,true));
        |  optional int64 ntz (TIMESTAMP(MICROS,false));
        |  optional int32 d9 (DECIMAL(9,2));
        |  optional int64 d18 (DECIMAL(18,4));
        |  optional fixed_len_byte_array(16) d38 (DECIMAL(38,10));
        |  optional group st { optional int64 x; optional binary z (STRING); }
        |  optional group arr (LIST) {
        |    repeated group list { optional int64 element; } }
        |  optional group mp (MAP) {
        |    repeated group key_value { required binary key (STRING);
        |                               optional int64 value; } }
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val gf = new SimpleGroupFactory(schema)
    try (0 until 20).foreach { i =>
      val unscaled = java.math.BigInteger.valueOf(i * 12345L).toByteArray
      val g = gf.newGroup().append("id", i.toLong).append("b", i % 2 == 0)
        .append("i8", i).append("i16", i * 100).append("i32", i * 100000)
        .append("f32", i / 3.0f).append("f64", i / 7.0)
        .append("str", s"s$i").append("bin", Binary.fromString(s"b$i"))
        .append("dt", 19000 + i).append("ts", i * 1000003L)
        .append("ntz", i * 1000003L).append("d9", i * 101)
        .append("d18", i * 10001L).append("d38", Binary.fromConstantByteArray(
          Array.fill[Byte](16 - unscaled.length)(0) ++ unscaled))
      g.addGroup("st").append("x", i.toLong).append("z", s"z$i")
      g.addGroup("arr").addGroup("list").append("element", i.toLong)
      g.addGroup("mp").addGroup("key_value").append("key", s"k$i")
        .append("value", i.toLong)
      w.write(g)
    } finally w.close()
  }

  /** Plain parquet layouts whose reads take the footer schema: (name,
    * path).
    */
  private lazy val footerShapes: Seq[(String, String)] = {
    val dir = tempDir("graft_footer")
    // every engine primitive type, decimals, nested struct/array/map,
    // written by Spark with TIMESTAMP_MICROS (its default is INT96)
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try spark.range(0, 40).selectExpr("id",
        "id % 2 = 0 as b", "cast(id as tinyint) as i8",
        "cast(id * 100 as smallint) as i16", "cast(id * 100000 as int) as i32",
        "id * 1000000007 as i64", "cast(id as float) / 3 as f32",
        "cast(id as double) / 7 as f64", "cast(id as decimal(9,2)) as d9",
        "cast(id * 10001 as decimal(18,4)) as d18",
        "cast(id * 12345 as decimal(38,10)) as d38", "concat('s', id) as str",
        "cast(concat('b', id) as binary) as bin",
        "date_add(date'2024-01-01', cast(id as int)) as dt",
        "timestamp_micros(id * 1000003) as ts",
        "cast(timestamp_micros(id * 1000003) as timestamp_ntz) as ntz",
        "named_struct('x', id, 'y', named_struct('z', concat('z', id))) as st",
        "array(id, id + 1) as arr", "map(concat('k', id), id) as mp",
        "array(named_struct('a', id)) as arr_st",
        "if(id % 5 = 0, null, id) as opt")
      .coalesce(2).write.parquet(s"$dir/types.parquet")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the same kinds of columns with no Spark schema in the footer
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/mr.parquet"))
    writeParquetMr(s"$dir/mr.parquet/part-0.parquet")
    // hive-partitioned: an int and a string partition value
    spark.range(0, 30).selectExpr("id", "cast(id % 3 as int) as pi",
        "concat('p', id % 2) as ps", "concat('v', id) as v")
      .write.partitionBy("pi", "ps").parquet(s"$dir/hive.parquet")
    // `_SUCCESS` (the writer's) next to hidden and in-flight files
    // that hold no parquet at all
    val hid = s"$dir/hidden.parquet"
    spark.range(0, 25).selectExpr("id", "concat('h', id) as h")
      .repartition(2).write.parquet(hid)
    assert(new java.io.File(s"$hid/_SUCCESS").exists())
    for (n <- Seq("_ignored.txt", ".hidden", "part-9.parquet._COPYING_",
        "_temporary/0/part-x.parquet")) {
      val f = java.nio.file.Paths.get(hid, n)
      Files.createDirectories(f.getParent)
      Files.writeString(f, "not parquet")
    }
    Seq("types" -> s"$dir/types.parquet", "parquet-mr" -> s"$dir/mr.parquet",
      "hive" -> s"$dir/hive.parquet", "hidden" -> hid)
  }

  test("footer-schema parquet reads equal spark.read.parquet in schema " +
    "(names, types, nullability, order) and rows") {
    for ((name, p) <- footerShapes) {
      val want = spark.read.parquet(p)
      val got = Resolver.readParquet(spark, p)
      assert(got.schema == want.schema,
        s"$name: ${got.schema.treeString} vs ${want.schema.treeString}")
      // Row equality: binary values compare by content
      assert(got.orderBy("id").collect().toSeq ==
        want.orderBy("id").collect().toSeq, name)
      assert(got.count() == want.count(), name)
    }
    // a nano-timestamp file keeps today's path: longs converted to
    // micros (a bare spark.read.parquet refuses the file)
    val fixture = getClass.getResource("/nano_fixture.parquet")
    assume(fixture != null, "nano fixture missing")
    val nano = s"${tempDir("graft_footer_nano")}/ev.parquet"
    Files.createDirectories(java.nio.file.Paths.get(nano))
    Files.copy(new java.io.File(fixture.toURI).toPath,
      java.nio.file.Paths.get(s"$nano/part-0.parquet"))
    val today = Resolver.convertNanoCols(
      Resolver.withNanosAsLong(spark)(spark.read.parquet(nano)), Seq("ts"))
    val got = Resolver.readParquet(spark, nano)
    assert(got.schema == today.schema && got.schema("ts").dataType == TimestampType)
    assert(rows(got.orderBy("ts")) == rows(today.orderBy("ts")))
    // an empty dir fails with Spark's own error
    val empty = tempDir("graft_footer_empty")
    val want = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(empty))
    val err = intercept[org.apache.spark.sql.AnalysisException](
      Resolver.readParquet(spark, empty))
    assert(err.getCondition == want.getCondition && err.getMessage == want.getMessage)
  }

  test("footer-schema parquet reads start ZERO Spark jobs (inference " +
    "runs one per read)") {
    for ((name, p) <- footerShapes) {
      val inferring = jobsDuring(spark.read.parquet(p))
      assert(inferring >= 1, s"$name: inference should run a job")
      val jobs = jobsDuring(Resolver.readParquet(spark, p))
      assert(jobs == 0, s"$name: footer-schema read started $jobs Spark job(s)")
    }
  }
}
