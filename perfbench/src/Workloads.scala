package perfbench

import java.io.File
import java.sql.Date
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.sources.Resolver
import graft.spec.DatasetRef
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A closed-loop workload: a fixed job sequence derived from the seed.
  * Job `j` counts from the first warm-up job; the timed window is one
  * period, so every run holds the same jobs and periodic work. */
trait Workload {
  /** Builds the inputs and tables; returns the seconds of each set-up
    * repetition (the last repetition's state is the one the jobs use). */
  def setUp(): Seq[Double]
  def warmUpJobs: Int
  def period: Int
  /** The CLI commands that make up job `j`. */
  def commands(j: Int): Seq[Seq[String]]
  /** The commands' captured standard output, in order. */
  def record(j: Int, outputs: Seq[String]): Unit
  /** Independent checks after the window; one message per mismatch.
    * Each mismatch counts as one failed operation. */
  def check(): Seq[String]
  /** Checks made once per run on top of the per-job ones. */
  def checkCount: Int
  /** Bytes under the table directories per byte of their live rows
    * written once, as one parquet file. */
  def spaceAmp(): Double
  /** Table directories job `j` reads or writes (listed by the tracer). */
  def traceDirs(j: Int): Seq[String]
  /** Bytes of job `j`'s input files (the base of `operators.write_amp`). */
  def inputBytes(j: Int): Long
}

/** Shared helpers: dataset refs under the work dir, generated writes. */
abstract class Base(cli: Cli, work: String) extends Workload {
  protected val spark: SparkSession = cli.spark
  protected var dir: String = work + "/r0"

  protected def uri(name: String): String = s"parquet/$dir/$name"
  protected def path(name: String): String = s"$dir/$name.parquet"

  protected def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Times `reps` set-ups, each into a fresh directory; earlier ones are
    * removed once the next has been built. */
  protected def repeatSetUp(reps: Int)(build: => Unit): Seq[Double] =
    (0 until reps).map { r =>
      val prev = new File(dir)
      dir = s"$work/r$r"
      val t = System.nanoTime()
      build
      val s = (System.nanoTime() - t) / 1e9
      if (r > 0) delete(prev)
      s
    }

  /** Writes `rows` (first column: an int split key) as one parquet
    * dataset per key value, named by `name`, in one Spark job. */
  protected def writeSplit(rows: Seq[Row], schema: StructType,
                           name: Int => String): Unit = {
    val tmp = s"$dir/_split_tmp"
    val key = schema.fields.head.name
    spark.createDataFrame(rows.asJava, schema).write.partitionBy(key).parquet(tmp)
    new File(tmp).listFiles().filter(_.getName.startsWith(key + "=")).foreach { d =>
      val target = new File(path(name(d.getName.stripPrefix(key + "=").toInt)))
      target.getParentFile.mkdirs()
      require(d.renameTo(target), s"rename $d -> $target")
    }
    delete(new File(tmp))
  }

  protected def read(name: String, query: Seq[(String, String)] = Nil): DataFrame =
    Resolver.read(spark, DatasetRef.parse(uri(name)), query = query)

  protected def spaceAmpOf(names: Seq[String]): Double = {
    val live = s"$dir/_live_once"
    names.map(n => read(n)).reduce(_ unionByName _).coalesce(1).write.parquet(live)
    val liveBytes = Stats.listFiles(live).filter(_._1.endsWith(".parquet")).values.sum
    delete(new File(live))
    names.map(n => Stats.dirBytes(path(n))).sum.toDouble / liveBytes
  }

  /** The "done: N rows written" line every write job prints. */
  protected def written(out: String): Option[Long] =
    "done: (\\d+) rows written".r.findFirstMatchIn(out).map(_.group(1).toLong)
}

/** Keyed upserts into one sorted snapshot table. */
final class KeyedUpsert(cli: Cli, work: String, seed: Long, mix: Mix)
    extends Base(cli, work) {
  val N = 150000 // orders rows, the sf0.1 `orders` size
  val L = 1500 // rows a batch updates: a contiguous 1% key range
  // Illustrative batch shape (README: "Input shares"): one new key per
  // 25 updated rows, a tenth of the updated rows moved to another customer.
  val InsertEvery: Int = mix("insert_every", 25).toInt
  val MovePct: Double = mix("move_pct", 10)
  require(InsertEvery >= 1 && MovePct >= 0 && MovePct <= 100, "keyed_upsert mix")
  val Customers = 15000
  // Upserts #11-#18 after the create are timed: they hold the manifest
  // checkpoint of commit 16 (Snapshot.CheckpointEvery) and, with the
  // 48 earlier job-log files, the log's compaction past 64 files at
  // the 6th timed job.
  val warmUpJobs = 10
  val period = 8
  val PriorLogFiles = 48
  private val batches = warmUpJobs + period // one batch file per job

  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         day: Long, prio: String, clerk: String, shipPrio: Int,
                         comment: String)

  private val Statuses = Array("F", "O", "P")
  private val Prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Words = Array("carefully", "final", "deposits", "sleep", "quickly",
    "regular", "packages", "ironic", "accounts", "boost", "furiously", "express",
    "requests", "blithely", "pending", "theodolites", "haggle", "slyly", "bold", "ideas")

  /** TPC-H style sparse keys: 8 used of every 32. */
  def key(i: Int): Long = (i / 8).toLong * 32 + (i % 8) + 1

  private def mkOrder(r: SplittableRandom, k: Long): Order = Order(k,
    1 + r.nextInt(Customers), Statuses(r.nextInt(3)), (90000 + r.nextInt(50000000)) / 100.0,
    LocalDate.of(1992, 1, 1).toEpochDay + r.nextInt(2400), Prios(r.nextInt(5)),
    f"Clerk#${1 + r.nextInt(1000)}%09d", 0,
    Seq.fill(3 + r.nextInt(5))(Words(r.nextInt(Words.length))).mkString(" "))

  private lazy val base: Array[Order] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(N)(i => mkOrder(r, key(i)))
  }
  private lazy val segment: Array[(String, Int)] = {
    val r = new SplittableRandom(seed * 31 + 7)
    Array.fill(Customers + 1)((Segments(r.nextInt(5)), r.nextInt(25)))
  }

  /** Batch `b`: the rows of a contiguous key range with new prices, a
    * tenth of them moved to another customer, plus new keys in the gaps. */
  def batch(b: Int): Seq[Order] = {
    val r = new SplittableRandom(seed * 1000003L + b)
    val s = r.nextInt(N - L)
    (s until s + L).flatMap { i =>
      val o = base(i)
      val upd = o.copy(price = (90000 + r.nextInt(50000000)) / 100.0,
        cust = if (r.nextInt(100) < MovePct) 1 + r.nextInt(Customers) else o.cust)
      if (i % InsertEvery == 0) Seq(upd, mkOrder(r, o.key + 8)) else Seq(upd)
    }
  }

  private val srcSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))
  private def toRow(o: Order): Seq[Any] = Seq(o.key, o.cust, o.status, o.price,
    Date.valueOf(LocalDate.ofEpochDay(o.day)), o.prio, o.clerk, o.shipPrio, o.comment)

  private val model = mutable.HashMap.empty[Long, Order]
  private var undo = Map.empty[Long, Option[Order]]
  private val issues = ArrayBuffer.empty[String]
  private var jobs = 0 // rows the namespace's job log should hold

  def setUp(): Seq[Double] = repeatSetUp(1) {
    writeSplit(Seq.tabulate(Customers)(c => Row(0, (c + 1).toLong,
      segment(c + 1)._1, segment(c + 1)._2)), StructType(Seq(
      StructField("__part", IntegerType), StructField("o_custkey", LongType),
      StructField("c_mktsegment", StringType), StructField("c_nationkey", IntegerType))),
      _ => "customer")
    val part = StructField("__part", IntegerType)
    writeSplit(base.toSeq.map(o => Row.fromSeq(0 +: toRow(o))),
      StructType(part +: srcSchema.fields), _ => "orders_src")
    writeSplit((0 until batches).flatMap(b => batch(b).map(o => Row.fromSeq(b +: toRow(o)))),
      StructType(part +: srcSchema.fields), b => s"batches/b$b")
    val out = cli.run(Seq("-s", uri("orders_src"), "-m", uri("customer"),
      "--mkeys", "o_custkey", "-t", uri("orders"), "-o", "create",
      "--commit", "snapshot", "--mongo-index", "o_orderkey",
      "--max-records-per-file", "10000", "-y"))
    require(written(out).contains(N.toLong), s"create wrote: $out")
    // The table's job log as a long-scheduled table has it: one file per
    // earlier job, so that the log's compaction past 64 files falls at
    // the same job of every window.
    spark.createDataFrame((1 to PriorLogFiles).map(i => Row(s"prior-$i",
      uri(s"batches/prior$i"), uri("orders"), "upsert", L.toLong, "", "",
      new java.sql.Timestamp(i * 60000L))).asJava, StructType(Seq(
      StructField("uid", StringType), StructField("source", StringType),
      StructField("target", StringType), StructField("op", StringType),
      StructField("written", LongType), StructField("msg", StringType),
      StructField("cron", StringType), StructField("ts", TimestampType))))
      .coalesce(1).write.option("maxRecordsPerFile", 1).mode("append")
      .parquet(s"$dir/_logs.parquet")
    model.clear(); base.foreach(o => model(o.key) = o); jobs = 1 + PriorLogFiles
  }

  def commands(j: Int): Seq[Seq[String]] = Seq(Seq(
    "-s", uri(s"batches/b$j"), "-m", uri("customer"), "--mkeys", "o_custkey",
    "-t", uri("orders"), "-o", "upsert", "--pk", "o_orderkey",
    "--commit", "snapshot", "--mongo-index", "o_orderkey"))

  def record(j: Int, outputs: Seq[String]): Unit = {
    val rows = batch(j)
    if (!written(outputs.head).contains(rows.size.toLong))
      issues += s"job $j: expected 'done: ${rows.size} rows written'"
    undo = rows.map(o => o.key -> model.get(o.key)).toMap
    rows.foreach(o => model(o.key) = o)
    jobs += 1
  }

  val checkCount = 4

  private def compare(what: String, df: DataFrame,
                      want: collection.Map[Long, Order]): Option[String] = {
    val got = df.select((srcSchema.fieldNames ++ Seq("c_mktsegment", "c_nationkey"))
      .map(col).toIndexedSeq: _*).collect()
    val keys = got.iterator.map(_.getLong(0)).toSet
    val bad = got.iterator.filter { r =>
      want.get(r.getLong(0)).forall { o =>
        toRow(o) != Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getDate(4), r.getString(5), r.getString(6), r.getInt(7), r.getString(8)) ||
        segment(o.cust.toInt) != ((r.getString(9), r.getInt(10)))
      }
    }.take(3).map(_.toString).toSeq
    if (got.length != want.size || keys.size != want.size || bad.nonEmpty)
      Some(s"$what: ${got.length} rows, ${keys.size} distinct keys vs ${want.size} " +
        s"modelled; e.g. ${bad.mkString("; ")}")
    else None
  }

  def check(): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path("orders"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = graft.operators.Snapshot.committed(fs,
      new org.apache.hadoop.fs.Path(path("orders"))).map(_._1)
    val prev = model.clone()
    undo.foreach { case (k, o) => o.fold(prev.remove(k))(v => prev.put(k, v)) }
    val fsck = cli.run(Seq("-s", uri("orders"), "--fsck"))
    val logRows = spark.read.parquet(s"$dir/_logs.parquet").count()
    issues.toSeq ++
      compare("final read", read("orders"), model) ++
      compare(s"version ${versions.init.last}",
        read("orders", Seq("_version" -> versions.init.last.toString)), prev) ++
      (if (fsck.linesIterator.exists(_.trim == "fsck: clean")) None
       else Some(s"fsck: $fsck")) ++
      (if (logRows == jobs) None else Some(s"_logs has $logRows rows for $jobs jobs"))
  }

  def spaceAmp(): Double = spaceAmpOf(Seq("orders"))
  def traceDirs(j: Int): Seq[String] = Seq(path("orders"))
  def inputBytes(j: Int): Long = Stats.dirBytes(path(s"batches/b$j"))
}

/** Quality filtering and near-duplicate removal over corpus shards. */
final class CorpusCurate(cli: Cli, work: String, seed: Long, mix: Mix)
    extends Base(cli, work) {
  val Shards = 4
  val Docs = 1000 // per shard, before near-duplicate variants
  val warmUpJobs = 2
  val period = Shards
  val Chain = "c4_clean:text;3;2,normalize_ws:text,gopher_keep:text," +
    "set_expr:score;length(text),dedup_keep_best:score;doc_id;text"

  /** Document kinds: clean singletons survive; each cluster keeps one;
    * every other kind breaks one C4 or Gopher rule. */
  private val Clean = 0; private val Cluster = 1; private val Short = 2
  private val Symbols = 3; private val Foreign = 4; private val Repeats = 5
  private val Lorem = 6; private val Brace = 7; private val NoPunct = 8

  // Illustrative shares of draws in percent (README: "Input shares"):
  // near-duplicate clusters, and rule breakers split over the kinds
  // Short..NoPunct in the weights below; the rest is clean.
  private val DupPct = mix("dup_pct", 10)
  private val BreakPct = mix("break_pct", 28)
  require(DupPct >= 0 && BreakPct >= 0 && DupPct + BreakPct <= 100, "corpus_curate mix")
  private val BreakWeights = Seq(4, 4, 8, 4, 2, 2, 4)
  /** Upper bound of each kind's range of `nextInt(100)` draws. */
  private val Upper: Seq[Double] =
    ((100 - DupPct - BreakPct) +: DupPct +: BreakWeights.map(_ * BreakPct / BreakWeights.sum))
      .scanLeft(0.0)(_ + _).tail

  private val EnStop = Array("the", "a", "an", "and", "of", "to", "in", "is", "on",
    "for", "with", "that", "it", "as", "at", "by", "this", "be", "are", "was")
  private val Foreign3 = Seq(
    Array("der", "die", "und", "das", "nicht", "mit", "sich", "auf", "ist"),
    Array("le", "la", "les", "et", "des", "une", "est", "dans", "pour"),
    Array("el", "los", "las", "y", "que", "del", "por", "una", "con"))
  private def vocab(sylls: Array[String], n: Int, s: Long): Array[String] = {
    val r = new SplittableRandom(s)
    val stop = EnStop.toSet
    Iterator.continually(Seq.fill(2 + r.nextInt(2))(sylls(r.nextInt(sylls.length))).mkString)
      .filter(w => !stop.contains(w)).distinct.take(n).toArray
  }
  private val En = vocab(Array("ka", "mo", "ter", "lin", "ra", "son", "vel", "dor",
    "pa", "nic", "tu", "ber", "sa", "mer", "co", "lat"), 800, 1)
  private val ForeignVocab = Seq(
    vocab(Array("sch", "ein", "ung", "kel", "berg", "wal", "hof", "ter"), 300, 2),
    vocab(Array("eau", "mon", "ville", "ais", "que", "pre", "lu", "ron"), 300, 3),
    vocab(Array("cion", "mar", "ero", "lla", "ito", "pue", "dos", "ran"), 300, 4))

  final case class Doc(id: Long, kind: Int, cluster: Long, text: String)
  private val docs = Array.fill(Shards)(Seq.empty[Doc])
  private val outputs = mutable.HashMap.empty[Int, Long]

  private def sentence(r: SplittableRandom, words: Array[String], stops: Array[String],
                       n: Int, end: String = "."): String = {
    val ws = Seq.fill(n)(if (r.nextInt(10) < 3) stops(r.nextInt(stops.length))
      else words(r.nextInt(words.length)))
    val gaps = ws.tail.map(w => (if (r.nextInt(8) == 0) "  \t" else " ") + w)
    (ws.head.capitalize +: gaps).mkString + end
  }
  private def lines(r: SplittableRandom, n: Int, words: Array[String] = En,
                    stops: Array[String] = EnStop, end: String = "."): Seq[String] =
    Seq.fill(n)(sentence(r, words, stops, 8 + r.nextInt(6), end))

  private def shard(s: Int): Seq[Doc] = {
    val r = new SplittableRandom(seed * 104729 + s)
    var id = s.toLong * 1000000
    def next() = { id += 1; id }
    val out = ArrayBuffer.empty[Doc]
    for (_ <- 0 until Docs) { val x = r.nextInt(100); Upper.indexWhere(x < _) } match {
      case Clean =>
        val body = lines(r, 10 + r.nextInt(4)) ++
          (if (r.nextInt(3) == 0) Seq("Please enable JavaScript to view this page.",
            "Home  About  Contact") else Nil)
        out += Doc(next(), Clean, 0, r.nextInt(2) match {
          case 0 => body.mkString("\n")
          case _ => body.map(l => "  " + l + " ").mkString("\n")
        })
      case Cluster =>
        val baseLines = lines(r, 12)
        val c = next()
        out += Doc(c, Cluster, c, baseLines.mkString("\n"))
        for (_ <- 0 until 1 + r.nextInt(3)) {
          val li = r.nextInt(baseLines.size)
          val ws = baseLines(li).split(" ")
          val wi = 1 + r.nextInt(ws.length - 2)
          ws(wi) = En(r.nextInt(En.length))
          out += Doc(next(), Cluster, c, baseLines.updated(li, ws.mkString(" ")).mkString("\n"))
        }
      case Short => out += Doc(next(), Short, 0, lines(r, 2).mkString("\n"))
      case Symbols => out += Doc(next(), Symbols, 0,
        lines(r, 11).map(_.split(" ").map(w => if (r.nextInt(4) == 0) "#" + w else w)
          .mkString(" ")).mkString("\n"))
      case Foreign =>
        val l = r.nextInt(3)
        out += Doc(next(), Foreign, 0, lines(r, 11, ForeignVocab(l), Foreign3(l)).mkString("\n"))
      case Repeats =>
        val l = lines(r, 1).head
        out += Doc(next(), Repeats, 0, Seq.fill(12)(l).mkString("\n"))
      case Lorem => out += Doc(next(), Lorem, 0,
        (lines(r, 10) :+ "Lorem ipsum dolor sit amet, consectetur adipiscing elit.").mkString("\n"))
      case Brace => out += Doc(next(), Brace, 0,
        (lines(r, 10) :+ "Call render({ id: 7 }) before the page loads.").mkString("\n"))
      case _ => out += Doc(next(), NoPunct, 0, lines(r, 11, end = "").mkString("\n"))
    }
    out.toSeq
  }

  def setUp(): Seq[Double] = repeatSetUp(3) {
    val schema = StructType(Seq(StructField("__part", IntegerType),
      StructField("doc_id", LongType), StructField("text", StringType)))
    for (s <- 0 until Shards) docs(s) = shard(s)
    writeSplit(docs.indices.flatMap(s => docs(s).map(d => Row(s, d.id, d.text))),
      schema, s => s"shards/s$s")
  }

  def commands(j: Int): Seq[Seq[String]] = Seq(Seq(
    "-s", uri(s"shards/s${j % Shards}"), "--str", Chain,
    "-t", uri(s"out/c$j"), "-o", "create"))

  def record(j: Int, out: Seq[String]): Unit =
    outputs(j) = written(out.head).getOrElse(-1L)

  val checkCount = 0

  def check(): Seq[String] = outputs.toSeq.filter(_._1 >= warmUpJobs).sortBy(_._1).flatMap {
    case (j, n) =>
      val in = docs(j % Shards)
      val got = spark.read.parquet(path(s"out/c$j")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val byId = in.map(d => d.id -> d).toMap
      val clusters = in.filter(_.kind == Cluster).groupBy(_.cluster)
      val want = in.count(_.kind == Clean) + clusters.size
      val bad = Seq(
        if (got.forall(byId.contains)) None else Some("ids not in the input"),
        if (in.filter(_.kind == Clean).forall(d => got(d.id))) None
        else Some("clean unique documents dropped"),
        in.filter(d => d.kind > Cluster && got(d.id)).map(_.kind).distinct match {
          case Seq() => None
          case kinds => Some(s"rule-violating documents of kinds ${kinds.mkString(",")} kept")
        },
        if (clusters.values.forall(_.count(d => got(d.id)) == 1)) None
        else Some("a near-duplicate cluster kept other than one member"),
        if (n == got.size && got.size == want) None
        else Some(s"wrote $n, read ${got.size}, expected $want")).flatten
      if (bad.isEmpty) None else Some(s"job $j (shard ${j % Shards}): ${bad.mkString("; ")}")
  }

  def spaceAmp(): Double =
    spaceAmpOf(outputs.keys.toSeq.filter(_ >= warmUpJobs).sorted.map(j => s"out/c$j"))
  def traceDirs(j: Int): Seq[String] = Seq(path(s"out/c$j"))
  def inputBytes(j: Int): Long = Stats.dirBytes(path(s"shards/s${j % Shards}"))
}
