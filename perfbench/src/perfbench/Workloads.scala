package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths => JPaths}
import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{EtlProgress, Load, Transform, WikidataSource}
import graft.query.{Paths, SurrealQL}

import Main.{Conf, Outcome}

/** Shared loop and helpers. */
private object Run {

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Times `body`. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }

  /** Runs `op(i)` until `seconds` have passed, at least once; returns
    * how many times it ran. */
  def loop(seconds: Double)(op: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { op(i); i += 1 }
    i
  }

  /** Fisher-Yates shuffle driven by the workload's seeded generator. */
  def shuffle[A](xs: Seq[A], rng: SplittableRandom): Seq[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }

  /** Runs a checked operation; any mismatch or exception makes it one
    * failed operation. */
  def attempt(failures: ArrayBuffer[String], what: String)(body: => Seq[String]): Unit =
    try { val bad = body; if (bad.nonEmpty) failures += s"$what: ${bad.mkString("; ")}" }
    catch { case e: Throwable => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}" }

  def rm(path: String): Unit = graft.sources.LocalFs.deleteRecursively(new File(path))

  /** (bytes, files) of the parquet files under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val fs = Files.walk(JPaths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
    (fs.map(Files.size).sum, fs.length.toLong)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** `ingest`: the paper's own workload. A seeded dump goes through
  * `Load.run` (Bulk, lang=en) to the tb-partitioned parquet layout,
  * wrapped in `EtlProgress.withProgress` as `WikiDemo` runs it. */
object Ingest {
  import Run._

  /** Entities per dump: about 16 MB of JSON, sized so one warm load
    * takes about 1.5 s at local[4] and a run holds several loads. */
  val Entities = 1500

  def run(spark: SparkSession, conf: Conf, tr: Tracer): Outcome = {
    val failures = ArrayBuffer.empty[String]
    val dumpPath = s"${conf.work}/dump.json"
    // the dump is the benchmark's input: written once, not timed
    val dump = DumpGen.write(dumpPath, conf.seed, Entities)

    def load(out: String) = EtlProgress.withProgress(spark, Some(dump.entities)) {
      _ => Load.run(spark, dumpPath, out, format = "json", lang = "en")
    }

    // set-up: the process's first five loads, which pay for JIT and
    // codegen; then three untimed loads, as the JIT is still warming
    val setup = ArrayBuffer.empty[Double]
    val warm = 8
    for (w <- 0 until warm) {
      val out = s"${conf.work}/setup-$w"
      attempt(failures, s"set-up load $w") {
        val s = timed(load(out))._2
        if (w < 5) setup += s
        check(inspect(spark, out), dump)
      }
      rm(out)
    }

    val lat = ArrayBuffer.empty[Double]
    val srcS, normS, loadS, opS, opSelf, bytesRead, spill, claimsOut = ArrayBuffer.empty[Double]
    val written = ArrayBuffer.empty[(Long, Long)]
    val counters = new Counters
    var attempted = warm
    // entity rows the source keeps, counted once (not timed)
    val kept = if (tr.on) WikidataSource.read(spark, dumpPath, "json").count() else 0L
    val n = loop(conf.seconds) { i =>
      val out = s"${conf.work}/sink-$i"
      if (tr.on) {
        val (_, s) = tr.span("ingest.WikidataSource") {
          WikidataSource.read(spark, dumpPath, "json")
            .write.format("noop").mode("overwrite").save()
        }
        val (_, t) = tr.span("ingest.Transform") {
          Transform.normalize(WikidataSource.read(spark, dumpPath, "json"), "en")
            .write.format("noop").mode("overwrite").save()
        }
        srcS += tr.spans(s).seconds; normS += tr.spans(t).seconds
        tr.settle()
        bytesRead += tr.total(s).inBytes.toDouble
      }
      attempted += 1
      val ((_, root), sec) = timed {
        tr.span("op") { tr.span("ingest.Load")(load(out)) }
      }
      lat += sec
      attempt(failures, s"load $i") {
        val sink = inspect(spark, out)
        claimsOut += sink.claims.toDouble
        check(sink, dump)
      }
      written += parquetFiles(out)
      if (tr.on) {
        tr.settle()
        val l = tr.children(root).head
        loadS += l.seconds; opS += tr.spans(root).seconds; opSelf += tr.self(root)
        spill += tr.total(l.id).spill.toDouble
        counters += tr.total(root)
      }
      rm(out)
    }

    val bytesOut = mean(written.map(_._1.toDouble).toSeq)
    val layers: Map[String, Double] = if (!tr.on) Map.empty else Map(
      "ingest.WikidataSource.s" -> mean(srcS.toSeq),
      "ingest.WikidataSource.bytes_read" -> mean(bytesRead.toSeq),
      "ingest.WikidataSource.kept_ratio" -> kept.toDouble / (dump.lines - 2),
      "ingest.Transform.s" -> mean(normS.zip(srcS).map { case (a, b) => a - b }.toSeq),
      "ingest.Transform.claims_out" -> mean(claimsOut.toSeq),
      "ingest.Load.s" -> mean(loadS.zip(normS).map { case (a, b) => a - b }.toSeq),
      "ingest.Load.bytes_written" -> bytesOut,
      "ingest.Load.files_written" -> mean(written.map(_._2.toDouble).toSeq),
      "ingest.Load.spill_bytes" -> mean(spill.toSeq),
      "ingest.Load.stored_bytes_ratio" -> bytesOut / dump.bytes,
      "trace.op_p50_s" -> Stats.median(opS.toSeq),
      "trace.unattributed_s" -> mean(opSelf.toSeq)) ++ Layers.spark(counters, n)
    Outcome(setup.toSeq, lat.toSeq, n.toDouble * dump.entities, attempted,
      failures.toSeq, layers,
      Map("entities" -> dump.entities, "dump_bytes" -> dump.bytes,
        "dump_lines" -> dump.lines, "claims" -> dump.claims,
        "per_tb" -> dump.perTb, "p1113_sum" -> dump.p1113Sum,
        "stored_bytes" -> bytesOut, "stored_bytes_ratio" -> bytesOut / dump.bytes,
        "loads" -> n))
  }

  /** What one written sink holds: entities per tb, claims rows,
    * flattened claims, and the sum of every P1113 amount. */
  final case class Sink(perTb: Map[String, Long], claimRows: Long, claims: Long,
                        p1113Sum: Double)

  def inspect(spark: SparkSession, out: String): Sink = {
    val t = Load.open(spark, out)
    val perTb = t.entities.groupBy(col("id.tb")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val Array(c) = t.claims.agg(count(lit(1)), sum(size(col("claims"))),
      sum(aggregate(Paths.quantityAmounts(col("claims"), 1113), lit(0.0),
        (a, x) => a + coalesce(x, lit(0.0))))).collect()
    Sink(perTb, c.getLong(0), c.getLong(1), c.getDouble(2))
  }

  /** Closed-form checks of a sink against the generator's facts. */
  def check(sink: Sink, dump: DumpGen.Dump): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    if (sink.perTb != dump.perTb) bad += s"entities per tb ${sink.perTb}, expected ${dump.perTb}"
    if (sink.claimRows != dump.entities) bad += s"claims rows ${sink.claimRows}, expected ${dump.entities}"
    if (sink.claims != dump.claims) bad += s"flattened claims ${sink.claims}, expected ${dump.claims}"
    if (sink.p1113Sum != dump.p1113Sum.toDouble)
      bad += s"P1113 sum ${sink.p1113Sum}, expected ${dump.p1113Sum}"
    bad.toSeq
  }
}

/** `surql`: one client in a closed loop over a seeded mix of the
  * documented SurrealQL surface, each script followed by an action on
  * its result. Every script's result is predicted from the generator. */
object Surql {
  import Run._

  val Entities = 800

  private val Amount =
    "claims.claims[WHERE id = Property:1113][0].value.ClaimValueData.Quantity.amount"

  private val MediaView =
    """DEFINE TABLE Media TYPE NORMAL AS
      |SELECT
      |*,
      |# Number of episodes
      |(claims.claims[WHERE id = Property:1113].value.ClaimValueData.Quantity.amount)[0] AS episodes,
      |# Part of the series (parent)
      |(claims.claims[WHERE id = Property:179].value.Thing)[0] AS parent,
      |# Has part(s) (children)
      |claims.claims[WHERE id = Property:527].value.Thing AS children
      |FROM Entity;""".stripMargin

  val Kinds: IndexedSeq[String] = IndexedSeq("lookup", "group_all", "group_by",
    "order_limit", "parent_subselect", "delete_program", "update", "media_view")

  /** A script, the action run on its result, and the rows it must
    * give (`ordered` when the script fixes the row order). */
  final case class Script(kind: String, text: String,
                          action: SurrealQL.Result => DataFrame,
                          expect: Seq[Seq[Any]], ordered: Boolean)

  def run(spark: SparkSession, conf: Conf, tr: Tracer): Outcome = {
    val failures = ArrayBuffer.empty[String]
    val dumpPath = s"${conf.work}/dump.json"
    val sink = s"${conf.work}/sink"
    // the dump is written once, not timed; set-up is the loads
    val dump = DumpGen.write(dumpPath, conf.seed, Entities)
    val setup = (1 to 3).map { i =>
      val (_, s) = timed(Load.run(spark, dumpPath, sink, format = "json", lang = "en"))
      attempt(failures, s"set-up load $i")(Ingest.check(Ingest.inspect(spark, sink), dump))
      s
    }
    val tables = Load.open(spark, sink)
    val items = dump.items

    var pathsShuffle = 0.0
    if (tr.on) {
      val (_, p) = tr.span("query.Paths") {
        Paths.withClaims(tables.entities.filter(col("id.tb") === "Entity"), tables.claims)
          .write.format("noop").mode("overwrite").save()
      }
      tr.settle()
      pathsShuffle = tr.total(p).shuffleWrite.toDouble
    }

    val rng = new SplittableRandom(conf.seed * 31 + 7)
    val lat = ArrayBuffer.empty[Double]
    val roots = ArrayBuffer.empty[Int]
    var deckRowsOut = 0L
    val byKind = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    // two untimed warm-up decks: JIT and codegen for every kind
    val warmDecks = 2
    for (_ <- 0 until warmDecks) shuffle(Kinds, rng).foreach { kind =>
      val script = make(kind, rng, items, dump)
      attempt(failures, s"warm-up script ($kind)") {
        compare(script, script.action(SurrealQL.run(tables, script.text)).collect())
      }
    }
    // whole decks only, so every run has the same mix of kinds
    val decks = loop(conf.seconds) { d =>
      shuffle(Kinds, rng).foreach { kind =>
        val i = lat.length
        val script = make(kind, rng, items, dump)
        var rows: Array[Row] = Array.empty
        var result: DataFrame = null
        val ((_, root), sec) = timed {
          tr.span("op") {
            val (res, _) = tr.span("query.SurrealQL")(SurrealQL.run(tables, script.text))
            result = script.action(res)
            rows = tr.span("query.exec")(result.collect())._1
          }
        }
        lat += sec
        byKind.getOrElseUpdate(kind, ArrayBuffer.empty) += sec
        attempt(failures, s"script $i ($kind)")(compare(script, rows))
        if (tr.on) { tr.phases(result.queryExecution, root); roots += root }
        if (d == 0) deckRowsOut += rows.length
      }
    }
    val n = decks * Kinds.length

    val layers: Map[String, Double] = if (!tr.on) Map.empty else {
      tr.settle()
      // counts come from the first deck alone, which every run
      // completes, so they repeat exactly for a seed
      val deck = roots.take(Kinds.length)
      val total = new Counters
      deck.foreach(r => total += tr.total(r))
      def named(name: String) = roots.map(r => tr.subtree(r).filter(_.name == name))
      Map(
        "query.SurrealQL.compile_s" -> named("query.SurrealQL").map(_.map(s => tr.self(s.id)).sum).sum / n,
        "query.plan.s" -> named("query.plan").map(_.map(_.seconds).sum).sum / n,
        "query.exec.s" -> named("query.exec").map(_.map(s => tr.self(s.id)).sum).sum / n,
        "query.exec.jobs" -> total.jobs.toDouble / deck.length,
        "query.exec.tasks" -> total.tasks.toDouble / deck.length,
        "query.Paths.shuffle_bytes" -> pathsShuffle,
        "query.Paths.rows_examined_per_row" -> total.inRecords.toDouble / math.max(deckRowsOut, 1L),
        "trace.op_p50_s" -> Stats.median(roots.map(r => tr.spans(r).seconds).toSeq),
        "trace.unattributed_s" -> mean(roots.map(r => tr.self(r)).toSeq)) ++
        Layers.spark(total, deck.length)
    }
    Outcome(setup, lat.toSeq, n.toDouble, n + setup.length + warmDecks * Kinds.length,
      failures.toSeq, layers,
      Map("entities" -> dump.entities, "scripts" -> n,
        "p50_by_kind_s" -> byKind.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Stats.median(v.toSeq) }.toMap))
  }

  private def boxed(eps: Long): Any = if (eps < 0) null else eps.toDouble

  private def has(it: DumpGen.Item, pid: Int): Boolean =
    (it.props & (1 << DumpGen.TrackedProps.indexOf(pid))) != 0

  /** Builds one script of `kind` with seeded parameters, and its
    * expected rows from the generator's facts. */
  def make(kind: String, rng: SplittableRandom, items: Array[DumpGen.Item],
           dump: DumpGen.Dump): Script = {
    val labelled = items.filter(_.label.nonEmpty)
    def pick() = labelled(rng.nextInt(labelled.length))
    val withEps = items.filter(_.episodes >= 0)
    kind match {
      case "lookup" =>
        val it = pick()
        Script(kind,
          s"""let $$n = (select $Amount as n from Entity where label = "${it.label}")[0].n;
             |return $$n;""".stripMargin,
          _.returned.get, Seq(Seq(boxed(it.episodes))), ordered = true)
      case "group_all" =>
        val x = rng.nextInt(500)
        val m = withEps.filter(_.episodes >= x)
        Script(kind,
          s"SELECT count() AS n, math::sum($Amount) AS total FROM Entity WHERE $Amount >= $x GROUP ALL;",
          _.returned.get,
          Seq(Seq(m.length.toLong, if (m.isEmpty) null else m.map(_.episodes).sum.toDouble)),
          ordered = true)
      case "group_by" =>
        val pid = Seq(1113, 179, 527)(rng.nextInt(3))
        val groups = items.filter(has(_, pid)).groupBy(_.description).toSeq.sortBy(_._1)
        Script(kind,
          s"SELECT description, count() AS n, math::sum($Amount) AS eps FROM Entity WHERE claims.claims[WHERE id = Property:$pid] != [] GROUP BY description ORDER BY description;",
          _.returned.get,
          groups.map { case (d, g) =>
            val e = g.filter(_.episodes >= 0)
            Seq(d, g.length.toLong, if (e.isEmpty) null else e.map(_.episodes).sum.toDouble)
          }, ordered = true)
      case "order_limit" =>
        val x = rng.nextInt(400)
        val k = 5 + rng.nextInt(20)
        val top = withEps.filter(_.episodes > x)
          .sortBy(it => (-it.episodes, it.label)).take(k)
        Script(kind,
          s"SELECT label, $Amount AS eps FROM Entity WHERE $Amount > $x ORDER BY eps DESC, label LIMIT $k;",
          _.returned.get, top.map(it => Seq(it.label, it.episodes.toDouble)).toSeq,
          ordered = true)
      case "parent_subselect" =>
        val x = rng.nextInt(400)
        val k = 5 + rng.nextInt(20)
        val perDesc = items.groupBy(_.description).map { case (d, g) => d -> g.length.toLong }
        val top = withEps.filter(it => it.episodes > x && it.label.nonEmpty)
          .sortBy(_.label).take(k)
        Script(kind,
          s"""SELECT label, (SELECT count() FROM Entity WHERE description = $$parent.description) AS same_desc FROM Entity WHERE $Amount > $x AND label != "" ORDER BY label LIMIT $k;""",
          _.returned.get, top.map(it => Seq(it.label, perDesc(it.description))).toSeq,
          ordered = true)
      case "delete_program" =>
        val pid = DumpGen.TrackedProps(rng.nextInt(DumpGen.TrackedProps.length))
        val left = dump.entities - items.count(!has(_, pid))
        Script(kind,
          s"""let $$entity = select id from Entity where claims.claims[where id = Property:$pid].value.Thing == [];
             |let $$claims = select claims from Entity where claims.claims[where id = Property:$pid].value.Thing == [];
             |delete $$claims;
             |delete $$entity;""".stripMargin,
          r => r.tables.entities.agg(count(lit(1)).as("entities"))
            .crossJoin(r.tables.claims.agg(count(lit(1)).as("claims"))),
          Seq(Seq(left, left)), ordered = true)
      case "update" =>
        val it = pick()
        Script(kind,
          s"""let $$n = (select $Amount as n from Entity where label = "${it.label}")[0].n;
             |update Entity SET number_of_episodes=$$n where label = "${it.label}";""".stripMargin,
          r => r.tables.entities.filter(col("number_of_episodes").isNotNull)
            .select(col("label"), col("number_of_episodes")),
          if (it.episodes < 0) Nil else Seq(Seq(it.label, it.episodes.toDouble)),
          ordered = true)
      case "media_view" =>
        Script(kind, MediaView,
          r => r.views("Media").agg(count(lit(1)), count(col("parent")),
            sum(col("episodes")), sum(size(col("children")))),
          Seq(Seq(items.length.toLong, items.count(_.parent >= 0).toLong,
            dump.p1113Sum.toDouble, items.map(_.children.toLong).sum)),
          ordered = true)
    }
  }

  def compare(s: Script, rows: Array[Row]): Seq[String] = {
    val got = rows.toSeq.map(_.toSeq)
    val ok =
      if (s.ordered) got == s.expect
      else got.map(_.toString).sorted == s.expect.map(_.toString).sorted
    if (ok) Nil
    else Seq(s"got ${got.take(5)} (${got.length} rows), expected ${s.expect.take(5)} (${s.expect.length} rows)")
  }
}

/** `registry`: the fixed sf0.01 tables and two classes of registry
  * queries, in an order set by the seed. The iterative class does its
  * work inside the builder call (snapshot writes, loop iterations);
  * the relational class is planned and run at the action. */
object Registry {
  import Run._

  val Iterative: Seq[String] = Seq("g_pagerank", "g_ppr", "g_labelprop",
    "d_components", "d_minhash_lsh", "p_dedup_pipeline", "d_ngram_containment")
  val Relational: Seq[String] = Seq("x_tpch_q3", "x_tpch_q9", "x_tpch_q18",
    "x_tpch_q21", "b11_anti_join", "b4_link_join", "q_sessionize")
  val TableNames: Seq[String] = Seq("customer", "documents", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def goldens(conf: Conf): Map[String, (Long, String)] =
    scala.io.Source.fromFile(s"${conf.data}/registry_goldens.tsv").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, rows, hash) = l.split("\t")
        k -> (rows.toLong, hash)
      }.toMap

  def run(spark: SparkSession, conf: Conf, tr: Tracer): Outcome = {
    val dir = s"${conf.data}/tables"
    val queries = graft.SparkEntry.queries
    val gold = goldens(conf)
    val failures = ArrayBuffer.empty[String]

    // set-up: open every table the queries read, from cold
    val setup = (1 to 3).map { i =>
      graft.sources.Tables.invalidate()
      val (counts, s) = timed(TableNames.map(t =>
        t -> graft.sources.Tables.load(spark, dir, t).count()))
      counts.foreach { case (t, c) =>
        if (gold(s"table:$t")._1 != c) failures += s"set-up $i: table $t has $c rows" }
      s
    }

    val rng = new SplittableRandom(conf.seed * 131 + 3)
    val all = Iterative ++ Relational
    var attempted = setup.length
    val perQuery = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]

    /** One pass in a seeded order; returns (seconds, pass span). */
    def pass(label: String): (Double, Int) = {
      val order = shuffle(all, rng)
      val ((_, root), sec) = timed {
        tr.span("op") {
          order.foreach { q =>
            val cls = if (Iterative.contains(q)) "operators" else "queries"
            attempted += 1
            var rows: Array[Row] = null
            var df: DataFrame = null
            try {
              val ((_, qs), qsec) = timed {
                tr.span(cls) {
                  df = tr.span(s"$cls.build")(queries(q)(spark, dir))._1
                  rows = tr.span(s"$cls.exec")(df.collect())._1
                }
              }
              perQuery.getOrElseUpdate(q, ArrayBuffer.empty) += qsec
              if (tr.on) tr.phases(df.queryExecution, qs)
              val (gr, gh) = gold(q)
              val h = Canon.hash(df.schema.fieldNames, rows)
              if (rows.length != gr || h != gh)
                failures += s"$label $q: rows ${rows.length} hash $h, expected rows $gr hash $gh"
            } catch {
              case e: Throwable => failures += s"$label $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
            }
          }
        }
      }
      (sec, root)
    }

    // no warm-up pass: a warm pass would double the run (about 25 s
    // cold, 15 s warm at local[4]), so the timed pass includes JIT and
    // codegen, as a process running the registry once pays them
    val lat = ArrayBuffer.empty[Double]
    val roots = ArrayBuffer.empty[Int]
    val n = loop(conf.seconds) { i =>
      val (s, root) = pass(s"pass $i")
      lat += s
      roots += root
    }

    val layers: Map[String, Double] = if (!tr.on) Map.empty else {
      tr.settle()
      val spans = roots.flatMap(tr.subtree)
      def named(name: String) = spans.filter(_.name == name)
      val build = new Counters
      named("operators.build").foreach(s => build += tr.total(s.id))
      val total = new Counters
      roots.foreach(r => total += tr.total(r))
      Map(
        "operators.build_s" -> named("operators.build").map(s => tr.self(s.id)).sum / n,
        "operators.jobs" -> build.jobs.toDouble / n,
        "operators.snapshot_bytes" -> build.outBytes.toDouble / n,
        "queries.exec_s" -> named("queries.exec").map(_.seconds).sum / n,
        "query.plan.s" -> named("query.plan").map(_.seconds).sum / n,
        "trace.op_p50_s" -> Stats.median(roots.map(r => tr.spans(r).seconds).toSeq),
        "trace.unattributed_s" -> mean(roots.map(r => tr.self(r)).toSeq)) ++
        Layers.spark(total, n)
    }
    Outcome(setup, lat.toSeq, n.toDouble * all.length, attempted, failures.toSeq, layers,
      Map("passes" -> n, "query_p50_s" -> perQuery.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Stats.median(v.toSeq) }.toMap))
  }

  /** Writes every query's result in `graft.Verify`'s layout (one
    * parquet dir per query plus `oracle_sql.json`, for
    * `tools/local_verify.py`) and the goldens file. */
  def record(spark: SparkSession, conf: Conf, out: String): Unit = {
    val dir = s"${conf.data}/tables"
    val lines = ArrayBuffer("# name\trows\tcanonical hash (perfbench Canon.hash)")
    TableNames.foreach { t =>
      lines += s"table:$t\t${graft.sources.Tables.load(spark, dir, t).count()}\t-"
    }
    (Iterative ++ Relational).foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val rows = df.collect()
      lines += s"$q\t${rows.length}\t${Canon.hash(df.schema.fieldNames, rows)}"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }
    val oracle = (Iterative ++ Relational).map(q => q -> graft.SparkEntry.oracleSql(q))
    Files.write(JPaths.get(s"$out/oracle_sql.json"),
      Json.write(ListMap(oracle: _*)).getBytes(StandardCharsets.UTF_8))
    Files.write(JPaths.get(s"$out/registry_goldens.tsv"),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Order- and layout-independent digest of a result: columns sorted by
  * name, doubles rounded to 9 decimals (as `tools/local_verify.py`
  * canonicalizes them), rows sorted, SHA-256 over the text. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d.isInfinite) d.toString
      else {
        val r = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN)
        if (r.signum == 0) "0" else r.bigDecimal.stripTrailingZeros.toPlainString
      }
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => cell(b.doubleValue)
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash(fields: Array[String], rows: Array[Row]): String = {
    val order = fields.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(32)
  }
}
