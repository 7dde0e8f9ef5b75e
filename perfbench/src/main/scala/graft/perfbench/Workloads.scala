package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.MapGroups
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft._
import graft.osl.{OslEngine, Parser}

object Tier {
  /** True when the plan runs the Tier B interpreter (a grouped map over
    * each person's events) rather than a Tier A Catalyst plan. */
  def interpreted(df: DataFrame): Boolean =
    df.queryExecution.logical.find(_.isInstanceOf[MapGroups]).isDefined
}

/** The Api routes the workloads call. Untraced, each is one route call.
  * Traced, a route is split into the public calls it makes, in the same
  * order, each under its own span. */
final class Routes(r: Run, val api: Api) {
  import Queries.OslNow
  private val tr = r.tracer

  def queryEvent(table: String, script: String, req: Long): String =
    tr.span("api.query_event", req) {
      if (!tr.enabled) api.queryEvent(table, script, OslNow)
      else {
        val m = api.catalog.describe(table)
        val program = tr.span("osl.parse", req)(Parser.program(script))
        val selects =
          if (program.select.nonEmpty) program.select
          else Seq(graft.osl.Ast.SelectCol("count", "id", "id", None, all = false))
        val ev = tr.span("catalog.scan_build", req) {
          OslEngine.staticScanWindow(script, OslNow) match {
            case Some((lo, hi)) => api.catalog.eventsFramed(table, lo, hi)
            case None => api.catalog.events(table)
          }
        }
        val df = tr.span("osl.build", req)(
          OslEngine.query(ev, script, now = OslNow, sessionGapMs = m.settings.sessionTimeMs))
        if (r.inTimed) {
          r.count("osl.queries")
          if (!Tier.interpreted(df)) r.count("osl.tier_a")
        }
        val nodes = tr.span("result.tree", req)(
          ResultTree.fromProgramSort(df, selects.map(_.alias), program.sort, 0))
        tr.span("result.render", req)(ResultTree.toJson(nodes))
      }
    }

  /** `indexed`: the script is an index-countable equality segment, which
    * the route answers from the property index when no WAL is pending. */
  def querySegment(table: String, script: String, indexed: Boolean, req: Long): String =
    tr.span("api.query_segment", req) {
      if (tr.enabled && indexed && !api.catalog.hasPendingWal(table))
        tr.span("propindex.ensure", req)(PropIndex.ensure(r.spark, api.catalog, table))
      api.querySegment(table, script, OslNow)
    }

  def queryProperty(table: String, prop: String, bucket: Double, req: Long): String =
    tr.span("api.query_property", req)(api.queryProperty(table, prop, bucket = Some(bucket)))

  def queryCustomer(table: String, id: Long, req: Long): String =
    tr.span("api.query_customer", req) {
      if (!tr.enabled) api.queryCustomer(table, id)
      else {
        val df = tr.span("catalog.scan_build", req)(api.catalog.customerEvents(table, id))
        tr.span("result.tree", req)(Customers.historyJson(df, id))
      }
    }

  def insert(table: String, events: Seq[String], req: Long): String =
    tr.span("api.insert", req) {
      if (!tr.enabled) api.insert(table, events, OslNow)
      else {
        val t0 = System.nanoTime()
        api.catalog.insertRaw(table, events, OslNow)
        val drained = !api.catalog.hasPendingWal(table)
        tr.record(if (drained) "catalog.drain" else "catalog.append", req, t0, System.nanoTime())
        """{"message":"yummy"}"""
      }
    }

  def segmentRefresh(table: String, script: String, req: Long): String =
    tr.span("api.segment_refresh", req)(
      tr.span("streaming.refresh", req)(api.segmentRefresh(table, script, OslNow)))
}

/** Scripts and table shape of the catalog-table workload. */
object Scripts {
  /** Three-step chain funnel: compiles to Tier A window plans. */
  val Chain: String =
    """select
      |  count id as customers
      |  count event as n_rows
      |  sum value as total_value
      |end
      |each_row where event.is(== 'signup')
      |  << 'signup'
      |  each_row.continue().next() where event.is(== 'view')
      |    << 'viewed'
      |    each_row.continue().next() where event.is(== 'purchase')
      |      << 'converted', bucket(value, 100)
      |    end
      |  end
      |end
      |""".stripMargin

  /** A cursor-relative `.next().ever()`: Tier A declines, Tier B runs it. */
  val TierB: String =
    """select
      |  count id as customers
      |  sum value as total_value
      |end
      |each_row where event.is(== 'view') && event.next().ever(== 'purchase')
      |  << product
      |end
      |""".stripMargin

  /** Two conditions: not index-countable, so the engine evaluates it. */
  val SegmentEngine: String =
    """@segment big_buyers
      |if value.ever(> 200) && event.ever(== 'purchase')
      |  return(true)
      |end
      |""".stripMargin

  /** One equality `ever`: countable from the property index. */
  val SegmentIndex: String =
    """@segment p3_buyers
      |if product.ever(== 'p3')
      |  return(true)
      |end
      |""".stripMargin

  /** Counts every stored event (event ids are unique). */
  val CountAll: String =
    """select
      |  count event_id as n
      |end
      |each_row where event.is(!= '')
      |  << 'all'
      |end
      |""".stripMargin

  val Meta: String => TableMeta = t => TableMeta(t,
    Seq(PropDef("value", "double"), PropDef("product", "text"),
      PropDef("tag", "int"), PropDef("event_id", "int")),
    TableSettings(idTextual = false, eventMax = 10000000))

  /** Creates `table` and ingests the generated history into it. */
  def ingest(r: Run, api: Api, meta: TableMeta, parquet: String): Unit = {
    api.tableCreate(meta)
    api.catalog.insert(meta.table, r.spark.read.parquet(parquet), nowMs = Queries.OslNow)
  }

  private val json = new ObjectMapper()

  /** The `n` of the first node of a [[CountAll]] result tree. */
  def countOf(tree: String): Long =
    json.readTree(tree).get("_").get(0).get("c").get(0).asLong()
}

/** `registry`: the listed registry queries, closed loop, one client. */
object Registry {
  private val families: Map[String, String] = Seq(
    "relational" -> QueriesRelational.entries, "pipeline" -> QueriesPipeline.entries,
    "ann" -> QueriesAnn.entries, "osl" -> QueriesOsl.entries)
    .flatMap { case (f, es) => es.map(_.name -> f) }.toMap

  def run(r: Run, names: Seq[String]): Unit = {
    Tables.hotCache = true
    val data = s"${r.work}/data"
    val out = s"${r.work}/out"
    val (known, missing) = names.partition(Queries.allQueries.contains)
    missing.foreach { n =>
      r.fail(n, new NoSuchElementException("not in the registry"))
      r.record("missing", n, 0.0, ok = false)
    }
    // The warm pass writes every result for the oracle check, and it makes
    // the first-touch builds (hot table cache, ingested catalog twins, ANN
    // indexes) of the listed queries, which would otherwise land inside
    // one timed query.
    r.setupPhase("warm_s")(known.foreach { n =>
      val (errs, s) = r.timeS(Verify.dumpQueries(r.spark, data, out, Seq(n -> Queries.allQueries(n))))
      r.log(f"warm $n $s%.3f s")
      errs.foreach { case (_, e) => r.fail(s"warm $n", new RuntimeException(e)) }
    })
    Files.write(Paths.get(s"$out/oracle_sql.json"), new ObjectMapper().writeValueAsString(
      Queries.oracleSql.filter { case (n, _) => known.contains(n) }.asJava)
      .getBytes(StandardCharsets.UTF_8))
    r.timed {
      for (pass <- 0 until r.passes(2.5))
        new scala.util.Random(r.seed * 7919 + pass).shuffle(known).foreach(one(r, _, data))
    }
  }

  private def one(r: Run, name: String, data: String): Unit = {
    val tr = r.tracer
    val fam = families.getOrElse(name, "other")
    val req = r.request()
    val t0 = System.nanoTime()
    val ok =
      try {
        tr.span(s"queries.$fam", req) {
          val df = tr.span(s"queries.build.$fam", req)(Queries.allQueries(name)(r.spark, data))
          if (tr.enabled && fam == "osl") {
            r.count("osl.queries")
            if (!Tier.interpreted(df)) r.count("osl.tier_a")
          }
          df.write.mode("overwrite").format("noop").save()
        }
        true
      } catch { case t: Throwable => r.fail(name, t); false }
    r.record(fam, name, (System.nanoTime() - t0) / 1e9, ok)
  }
}

/** `history_serve`: one ingested person history under group commit. One
  * closed-loop client sends each Api read route in turn, each preceded by
  * a raw-JSON insert batch, so the reads meet pending WAL rows and drains
  * at the same points on every run. */
object Serve {
  /** Group-commit threshold: a drain every sixth insert batch. */
  val FlushRows = 150

  def run(r: Run): Unit = {
    val api = new Api(r.spark, s"${r.work}/warehouse")
    val routes = new Routes(r, api)
    val table = "history"
    r.setupPhase("ingest_s") {
      val meta = Scripts.Meta(table)
      Scripts.ingest(r, api, meta.copy(settings = meta.settings.copy(flushRows = FlushRows)),
        s"${r.work}/data/history.parquet")
      PropIndex.ensure(r.spark, api.catalog, table)
    }
    val mix: Seq[(String, Long => String)] = Seq(
      "event_chain" -> (req => routes.queryEvent(table, Scripts.Chain, req)),
      "event_tier_b" -> (req => routes.queryEvent(table, Scripts.TierB, req)),
      "segment_engine" -> (req => routes.querySegment(table, Scripts.SegmentEngine, indexed = false, req)),
      "segment_index" -> (req => routes.querySegment(table, Scripts.SegmentIndex, indexed = true, req)),
      "property_bucket" -> (req => routes.queryProperty(table, "value", 25.0, req)),
      "customer_top" -> (req => routes.queryCustomer(table, 0L, req)),
      "segment_refresh" -> (req => routes.segmentRefresh(table, Scripts.SegmentEngine, req)))
    val json = new ObjectMapper()
    val batches = Files.readAllLines(Paths.get(s"${r.work}/data/inserts.jsonl")).asScala
      .map(l => json.readTree(l).elements().asScala.map(_.asText).toSeq).iterator
    val acked = new java.util.concurrent.atomic.AtomicLong()
    def insert(req: Long): Unit = {
      val evs = batches.next()
      routes.insert(table, evs, req)
      acked.addAndGet(evs.size)
    }
    // Warm every route on the ingested history (its answers are checked
    // against the generated input), then one insert batch and a drain.
    val (answers, baseCount) = r.setupPhase("warm_s") {
      val a = mix.map { case (n, f) => n -> f(0L) }.toMap
      val n = Scripts.countOf(routes.queryEvent(table, Scripts.CountAll, 0L))
      insert(0L)
      api.catalog.flush(table, Queries.OslNow)
      (a, n)
    }
    answers.foreach { case (n, v) => r.extra(s"answer.$n") = v }
    r.extra("base_events") = baseCount

    def timedOp(kind: String, name: String)(body: Long => Unit): Unit = {
      val req = r.request()
      val s0 = System.nanoTime()
      val ok = try { body(req); true } catch { case t: Throwable => r.fail(name, t); false }
      r.record(kind, name, (System.nanoTime() - s0) / 1e9, ok)
    }
    r.timed {
      for (_ <- 0 until r.passes(8.0); (n, f) <- mix) {
        timedOp("insert", "insert")(insert)
        timedOp("query", n)(req => f(req): Unit)
      }
    }
    r.extra("acked_events") = acked.get

    // read-your-writes: every acknowledged event is visible to a count
    val seen = Scripts.countOf(routes.queryEvent(table, Scripts.CountAll, 0L))
    val visible = seen == baseCount + acked.get
    if (!visible) r.fail("read_your_writes",
      new RuntimeException(s"count $seen != base $baseCount + acked ${acked.get}"))
    r.record("check", "read_your_writes", 0.0, visible)

    // Tier A's answer must equal the Tier B interpreter's on the same
    // events. Tier B walks the chain per person in quadratic time, so the
    // comparison runs on a seeded 2% sample of persons that never includes
    // the heaviest (id 0); the timed routes cover every person.
    val sample = api.catalog.events(table)
      .where(pmod(col("id"), lit(50)) === 1 + java.lang.Math.floorMod(r.seed, 49L))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val a = OslEngine.query(sample, Scripts.Chain, now = Queries.OslNow)
    val b = OslEngine.query(sample, Scripts.Chain, now = Queries.OslNow, forceTierB = true)
    val same = !Tier.interpreted(a) && rows(a) == rows(b)
    if (!same) r.fail("tier_a_vs_tier_b", new RuntimeException("Tier A and Tier B answers differ"))
    r.record("check", "tier_a_vs_tier_b", 0.0, same)

    if (r.tracer.enabled) {
      val bytes = Files.walk(Paths.get(s"${api.warehouse}/$table")).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.contains("/events")).map(Files.size).sum
      r.extra("catalog.bytes_per_event") = bytes.toDouble / seen
    }
  }
}
