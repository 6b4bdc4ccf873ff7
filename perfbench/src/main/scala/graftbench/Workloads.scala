package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.storage.StorageLevel

import graft.{Engine, EntityFrame, Materializer, Tables}
import graft.llm.Similarity
import graft.model.FeatureView
import graft.sources.FeatureSource

/** What one request produced. `check` compares the output with the oracle
  * and runs after the request's timer stops; it returns the reason the
  * output is wrong, if it is. `plan` is the executed plan of a query the
  * benchmark ran without a Dataset action (no [[QueryExecutionListener]]
  * event), read for the traced run. `annotate` adds counters that need
  * extra Spark work, run outside the timed region in the traced run. */
final case class Outcome(
    rows: Long,
    check: () => Option[String],
    plan: Option[SparkPlan] = None,
    annotate: Span => Unit = _ => ())

/** One benchmark workload: inputs are read from `data` (the generator's
  * files) and the oracle's answers from `oracle`. */
trait Workload {
  def name: String
  /** Read the inputs into `spark` (a fresh session) and warm it up. */
  def setup(spark: SparkSession, tracer: Option[Tracer]): Unit
  /** Request `i` of the closed loop. */
  def request(i: Int, tracer: Option[Tracer]): Outcome
  /** Measurements beyond request latency, taken after the loop. */
  def extras(): Map[String, Any] = Map.empty
  /** A whole-run output check, made after [[extras]]. */
  def runCheck(): Option[String] = None
}

object Workload {
  /** Run `body` in a span when tracing, plainly otherwise. */
  def span[A](t: Option[Tracer], layer: String, name: String)(body: Option[Span] => A): A =
    t match {
      case Some(tr) => tr.span(layer, name)(s => body(Some(s)))
      case None => body(None)
    }

  def apply(name: String, data: String, oracle: String, work: String): Workload = name match {
    case "pit_training_set" => new PitTrainingSet(data, oracle)
    case "materialize_serve" => new MaterializeServe(data, oracle, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A warm-up request's output is checked too; a failed request or a
    * wrong output is logged, and the timed requests report it as failures. */
  def warm(request: () => Outcome): Unit =
    scala.util.Try(request().check())
      .fold(e => Some(s"threw ${describe(e)}"), identity)
      .foreach(e => System.err.println(s"[perfbench] warm-up request failed: $e"))

  def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  def oracleJson(oracle: String): Map[String, Any] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    om.readValue(new java.io.File(s"$oracle/oracle.json"), classOf[java.util.Map[String, Any]])
      .asScala.toMap
  }
}

/** Training-set retrieval: the point-in-time join of an entity frame
  * against three feature views, fetched as Arrow. */
final class PitTrainingSet(data: String, oracle: String) extends Workload {
  import Workload.span
  val name = "pit_training_set"
  private val params = Workload.oracleJson(oracle)
  private def ttl(v: String): Long = params(s"${v}_ttl_s").toString.toLong
  private lazy val expected = Digest.ofArrowFile(s"$oracle/pit.arrow")
  private var engine: Engine = _
  private var entity: DataFrame = _
  private var views: Seq[FeatureView] = Nil
  private var entityRows = 0L

  def setup(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    engine = new Engine(spark)
    entity = Tables.readParquet(spark, s"$data/entity.parquet")
    views = Seq(
      FeatureView("driver_stats", Seq("driver_id"),
        FeatureSource(path = Some(s"$data/driver_stats.parquet")),
        ttlSeconds = ttl("driver_stats"), tieBreakColumns = Seq("seq")),
      FeatureView("customer_profile", Seq("customer_id"),
        FeatureSource(
          query = Some("SELECT customer_id, event_timestamp, created, avg_orders, tier " +
            s"FROM parquet.`$data/customer_profile.parquet`"),
          name = Some("customer_profile_query"),
          createdTimestampColumn = Some("created")),
        ttlSeconds = ttl("customer_profile")),
      FeatureView("global_stats", Nil,
        FeatureSource(path = Some(s"$data/global_stats.parquet")),
        ttlSeconds = ttl("global_stats")))
    entityRows = params("entity_rows").toString.toLong
    Workload.warm(() => request(-1, None))
  }

  def request(i: Int, tracer: Option[Tracer]): Outcome = {
    val job = span(tracer, "Engine", "Engine.getHistoricalFeatures") { _ =>
      val j = engine.getHistoricalFeatures(EntityFrame(entity), views, fullFeatureNames = true)
      j.toDF // plan construction, including the entity min/max bounds job
      j
    }
    val bytes = span(tracer, "RetrievalJob", "RetrievalJob.collectAsArrow") { s =>
      val b = job.collectAsArrow()
      s.foreach(_.add("GraftSql.arrow_bytes", b.length.toDouble))
      b
    }
    Outcome(entityRows,
      () => {
        val got = Digest.ofArrowBytes(bytes)
        if (got == expected) None else Some(s"result $got, oracle $expected")
      },
      plan = Some(job.toDF.queryExecution.executedPlan),
      annotate = s => s.add("pit.entity_rows", entityRows.toDouble))
  }
}

/** The serving side: one materializer per set-up, fed consecutive one-day
  * windows. The first window (the initial load over the view's TTL) is part
  * of set-up; each request then materializes the next window into the
  * growing store, reads a fixed batch of keys from the online store and
  * runs one batch of IVF nearest-neighbour queries against the index the
  * set-up built. The final store is written to `work` for the run's
  * snapshot check. */
final class MaterializeServe(data: String, oracle: String, work: String) extends Workload {
  import Workload.span
  val name = "materialize_serve"
  private val params = Workload.oracleJson(oracle)
  private val windows = params("windows").toString.toInt
  private val t0Us = params("t0_us").toString.toLong
  private val ttlS = params("ttl_s").toString.toLong
  private val keysPerWindow: Seq[Long] =
    params("keys_per_window").asInstanceOf[java.util.List[_]].toArray.toSeq.map(_.toString.toLong)
  private val columns = Seq("driver_id", "fare", "distance", "rating", "event_timestamp", "created")
  private lazy val readOracle: IndexedSeq[Digest] = (1 to windows).map(w =>
    Digest.ofArrowFile(s"$oracle/reads.arrow", drop = Set("window"),
      filter = Some("window" -> w.toLong)))

  private var spark: SparkSession = _
  private var fv: FeatureView = _
  private var readKeys: IndexedSeq[Array[Long]] = _
  private var mat: Materializer = _
  private var next = 1
  private val ann = new IvfIndex(data, params)
  private val readMicros = mutable.ArrayBuffer.empty[Double]

  def setup(s: SparkSession, tracer: Option[Tracer]): Unit = {
    spark = s
    fv = FeatureView("trips", Seq("driver_id"),
      FeatureSource(path = Some(s"$data/trips.parquet"),
        createdTimestampColumn = Some("created")),
      features = Seq("fare", "distance", "rating"), ttlSeconds = ttlS)
    val reads = spark.read.parquet(s"$data/reads.parquet").collect()
    readKeys = (1 to windows).map(w =>
      reads.filter(_.getLong(0) == w).map(_.getLong(1)))
    ann.build(spark, tracer)
    mat = null // belonged to the previous set-up's stopped session
    restart()
    Workload.warm(() => request(-1, None))
  }

  /** A fresh materializer, so the next window is the first. */
  private def restart(): Unit = {
    if (mat != null) mat.store.snapshot.foreach(org.apache.spark.sql.GraftSql.unpersistCheckpoint)
    mat = new Materializer(spark, fv)
    next = 1
  }

  private def windowEnd(w: Int): Timestamp =
    new Timestamp((t0Us + (w + 1) * 86400L * 1000000L) / 1000L)

  def request(i: Int, tracer: Option[Tracer]): Outcome = {
    if (next > windows) restart() // the generated days ran out
    val w = next
    next += 1
    span(tracer, "Materializer", "Materializer.materializeIncremental") { _ =>
      mat.materializeIncremental(windowEnd(w))
    }
    val store = mat.store
    val keys = readKeys(w - 1)
    val got = span(tracer, "OnlineStore", "OnlineStore.get") { s =>
      val out = keys.map { k =>
        val t = System.nanoTime()
        val r = store.get(Map("driver_id" -> java.lang.Long.valueOf(k)))
        if (i >= 0) readMicros += (System.nanoTime() - t) / 1e3 // loop requests only
        k -> r
      }
      s.foreach { sp =>
        sp.add("OnlineStore.reads", keys.length)
        sp.add("OnlineStore.read_hits", out.count(_._2.isDefined))
      }
      out
    }
    val (neighbours, annCheck) = ann.request(i, tracer)
    Outcome(keysPerWindow(w - 1) + neighbours,
      () => {
        val maps = got.map { case (k, r) =>
          r.getOrElse(columns.map(_ -> (null: Any)).toMap.updated("driver_id", k))
        }
        val reads = Digest.ofMaps(maps.toSeq, columns)
        (if (reads == readOracle(w - 1)) None
         else Some(s"window $w reads $reads, oracle ${readOracle(w - 1)}"))
          .orElse(annCheck())
      },
      annotate = s => {
        s.add("OnlineStore.state_rows", store.snapshot.get.count().toDouble)
        s.add("OnlineStore.cached_keys", store.cachedKeyCount.toDouble)
      })
  }

  override def extras(): Map[String, Any] = {
    val path = s"$work/snapshot.parquet"
    mat.store.snapshot.get.write.mode("overwrite").parquet(path)
    ann.extras() ++ Map("read_us" -> readMicros.toSeq, "final_window" -> (next - 1),
      "snapshot" -> path)
  }
  override def runCheck(): Option[String] = ann.runCheck()
}

/** The IVF index the serving workload searches: a cold build (k-means
  * training plus persisted cell assignment) in each set-up, then
  * fixed-size query batches with pruned cells. */
final class IvfIndex(data: String, params: Map[String, Any]) {
  import Workload.span
  private val n = params("vectors").toString.toInt
  private val dim = params("dim").toString.toInt
  private val k = params("k").toString.toInt
  private val recallBatch = params("recall_batch").toString.toInt
  private val minRecall = params("min_recall").toString.toDouble

  private var corpus: DataFrame = _
  private var centroids: IndexedSeq[Seq[Double]] = _
  private var assigned: DataFrame = _
  private var batches: IndexedSeq[DataFrame] = _
  private var queryIds: IndexedSeq[Array[Long]] = _
  private val nList = Similarity.defaultNList(n.toLong)
  private val buildSeconds = mutable.ArrayBuffer.empty[Double]
  private var recall = Double.NaN

  private lazy val corpusVecs = readF32(s"$data/corpus.f32")
  private lazy val queryVecs = readF32(s"$data/queries.f32")

  private def readF32(path: String): Array[Float] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val fb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    val out = new Array[Float](fb.remaining())
    fb.get(out)
    out
  }

  def build(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    corpus = Tables.readParquet(spark, s"$data/corpus.parquet")
    val t0 = System.nanoTime()
    centroids = span(tracer, "Similarity", "Similarity.trainIvfKMeans") { _ =>
      Similarity.trainIvfKMeans(corpus, "id", "vec", nList)
    }
    assigned = span(tracer, "Similarity", "Similarity.assignCells") { _ =>
      val a = Similarity.assignCells(corpus, "id", "vec", centroids)
        .persist(StorageLevel.MEMORY_AND_DISK)
      a.count()
      a
    }
    buildSeconds += (System.nanoTime() - t0) / 1e9
    val q = spark.read.parquet(s"$data/queries.parquet").collect()
    val schema = spark.read.parquet(s"$data/queries.parquet").select("id", "vec").schema
    val byBatch = q.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map(_._2.sortBy(_.getLong(1)))
    queryIds = byBatch.map(_.map(_.getLong(1))).toIndexedSeq
    batches = byBatch.map { rows =>
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r.getLong(1), r.getSeq[Float](2))): _*),
        schema)
    }.toIndexedSeq
  }

  private def search(b: Int): DataFrame =
    Similarity.ivfKnnTrained(corpus, batches(b), "id", "vec", k,
      nList = nList, centroids = Some(centroids), assigned = Some(assigned),
      pruneCells = true)

  /** Search query batch `i` (cyclically); returns the neighbour rows and
    * their output check. */
  def request(i: Int, tracer: Option[Tracer]): (Long, () => Option[String]) = {
    val b = Math.floorMod(i, batches.size)
    val rows = span(tracer, "Similarity", "Similarity.ivfKnnTrained") { s =>
      val r = search(b).collect()
      s.foreach { sp =>
        sp.add("Similarity.queries", queryIds(b).length)
        sp.add("Similarity.k", k.toDouble)
      }
      r
    }
    (rows.length.toLong, () => check(b, rows))
  }

  private def cosine(qi: Int, ni: Int): Double = {
    var dqv = 0.0; var dqq = 0.0; var dvv = 0.0
    var j = 0
    while (j < dim) {
      val a = queryVecs(qi * dim + j).toDouble
      val c = corpusVecs(ni * dim + j).toDouble
      dqv += a * c; dqq += a * a; dvv += c * c
      j += 1
    }
    dqv / (math.sqrt(dqq) * math.sqrt(dvv))
  }

  /** Every query gets k distinct neighbours ranked 1..k by non-increasing
    * similarity, and each similarity is the exact cosine of its pair. */
  private def check(b: Int, rows: Array[Row]): Option[String] = {
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    val ids = queryIds(b)
    val missing = ids.filterNot(byQ.contains)
    if (missing.nonEmpty) return Some(s"${missing.length} queries without neighbours")
    ids.iterator.map { qid =>
      val rs = byQ(qid).sortBy(_.getAs[Int]("rank"))
      val qi = (qid - n).toInt
      val sims = rs.map(_.getAs[Double]("sim"))
      if (rs.length != k) Some(s"query $qid has ${rs.length} neighbours")
      else if (rs.map(_.getAs[Int]("rank")).toSeq != (1 to k))
        Some(s"query $qid ranks ${rs.map(_.getAs[Int]("rank")).mkString(",")}")
      else if (rs.map(_.getAs[Long]("nid")).distinct.length != k)
        Some(s"query $qid repeats a neighbour")
      else if (sims.zip(sims.tail).exists { case (a, c) => c > a })
        Some(s"query $qid similarities not ordered")
      else rs.find { r =>
        val exact = cosine(qi, r.getAs[Long]("nid").toInt)
        math.abs(r.getAs[Double]("sim") - exact) > 2e-6
      }.map(r => s"query $qid neighbour ${r.getAs[Long]("nid")} sim ${r.getAs[Double]("sim")} " +
        s"!= exact ${cosine(qi, r.getAs[Long]("nid").toInt)}")
    }.collectFirst { case Some(e) => e }
  }

  def extras(): Map[String, Any] = {
    val exact = Similarity.bruteForceKnn(corpus, batches(recallBatch), "id", "vec", k)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = search(recallBatch).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    recall = (exact & approx).size.toDouble / exact.size
    Map("index_build_s" -> buildSeconds.toSeq, "recall_at_10" -> recall,
      "recall_queries" -> queryIds(recallBatch).length, "n_list" -> nList,
      "min_recall" -> minRecall)
  }

  /** A search that loses too much recall is wrong, not just fast. */
  def runCheck(): Option[String] =
    if (recall.isNaN || recall >= minRecall) None
    else Some(f"recall@$k $recall%.4f below $minRecall%.2f")
}
