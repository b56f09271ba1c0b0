package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.iceberg.{IcebergTable, IcebergWriter, Manifests, Pruning, SyntheticLake}
import graft.iceberg.Pruning._
import graft.operators.{Dedup, Similarity}

/** Output checks: a failed check fails the run. */
final class Checks {
  var passed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def apply(ok: Boolean, what: => String): Unit =
    if (ok) passed += 1 else if (failures.size < 50) failures += what
}

/** Seeded op mix: the ops come in blocks, each a shuffle of the next
  * template in turn, so the proportions are exact per block and only the
  * order within a block depends on the seed. */
final class Mix(templates: Seq[Seq[String]], rng: Random) {
  private var block: List[String] = Nil
  private var n = 0
  def atBlockStart: Boolean = block.isEmpty
  def next(): String = {
    if (block.isEmpty) {
      block = rng.shuffle(templates(n % templates.size)).toList
      n += 1
    }
    val k = block.head
    block = block.tail
    k
  }
}

/** One workload: builds its fixture, then runs ops of the kinds in
  * `templates`. `run` executes one op and returns the follow-up work (output
  * checks, model updates, traced-run accounting) that stays off the clock. */
trait Workload {
  def templates: Seq[Seq[String]]
  /** The op kinds `main_p50_ms` reports; their jobs' input is the scan input. */
  def mainKinds: Set[String]
  /** The op kinds, or timed sub-steps ([[lastSub]]), `side_p50_ms` reports. */
  def sideKinds: Set[String]
  def setup(): Unit
  /** One-off work after the last setup (ground truth), timed on its own. */
  def prepare(): Unit = ()
  def warmup(rng: Random, tr: Tracer): Unit
  def run(kind: String, rng: Random, tr: Tracer): () => Unit
  /** End-of-run checks. */
  def finish(): Unit = ()
  /** Workload-specific outputs for the result file. */
  def report(): Map[String, Any] = Map.empty
  /** Timed sub-steps of the op that just ran, in ms, by name. */
  val lastSub: mutable.Map[String, Double] = mutable.Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, dir: String,
      checks: Checks): Workload = name match {
    case "lake_plan" => new LakePlan(spark, seed, dir, checks)
    case "lake_rw" => new LakeRw(spark, seed, dir, checks)
    case "llm_pipe" => new LlmPipe(spark, seed, dir, checks)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def treeBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  def localPath(url: String): String = url.stripPrefix("file:")

  /** Metadata load, timed as its own layer; also records the JSON size and
    * snapshot count the load had to parse. */
  def loadTable(spark: SparkSession, url: String, tr: Tracer): IcebergTable = {
    val t = tr.span("meta.load")(IcebergTable.load(spark, url))
    if (tr.enabled) {
      tr.count("meta.loads", 1)
      tr.count("meta.json_bytes",
        Files.size(Paths.get(localPath(s"$url/metadata/v${t.version}.metadata.json"))))
      tr.count("meta.snapshots", t.snapshots.size)
    }
    t
  }

  /** Data manifests of `t`'s snapshot, and those the manifest tier keeps. */
  def manifestTier(t: IcebergTable, pred: IcePredicate)
      : (Seq[Manifests.ManifestFile], Seq[Manifests.ManifestFile]) = {
    val fields = t.iceSchema.fields
      .map(f => f.name -> FieldInfo(f.id, f.name, f.icebergTypeString)).toMap
    val data = t.manifestList.filter(_.content == Manifests.ManifestContent.Data)
    (data, data.filter(mf => manifestMightMatch(pred, mf,
      Pruning.Context(fields, t.metadata.specById(mf.partitionSpecId)))))
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scansOf) ++ other.subqueries.flatMap(scansOf)
  }

  /** Plan and run a query built by `build`, collecting its (small) result.
    * Traced, Catalyst's phases are forced one at a time so each gets a span. */
  def query(build: => DataFrame, tr: Tracer): Array[Row] = {
    val df = tr.span("sql.analysis")(build)
    if (!tr.enabled) df.collect()
    else {
      val qe = df.queryExecution
      tr.span("sql.optimize")(qe.optimizedPlan)
      tr.span("sql.physical")(qe.executedPlan)
      val rows = tr.span("scan.exec")(df.collect())
      val scans = scansOf(qe.executedPlan)
      tr.count("scan.queries", 1)
      tr.count("scan.input_partitions", scans.map(_.inputRDD.getNumPartitions).sum)
      tr.count("scan.rows_out",
        scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
      rows
    }
  }
}

import Workloads._

// ---------------------------------------------------------------- lake_plan

/** Metadata-plane workload: point-lookup plans with a warm manifest cache,
  * and a seeded minority of cold full plans that decode every manifest. */
final class LakePlan(spark: SparkSession, seed: Long, dir: String, checks: Checks)
    extends Workload {
  val manifests = 1000
  val filesPerManifest = 100
  val keysPerFile = 1000L
  val files: Long = manifests.toLong * filesPerManifest
  val url = s"file:$dir/plan_table"

  val templates: Seq[Seq[String]] = Seq(Seq.fill(99)("point") :+ "cold")
  val mainKinds = Set("point")
  val sideKinds = Set("cold")

  def setup(): Unit = {
    deleteTree(localPath(url))
    SyntheticLake.create(spark, url, manifests, filesPerManifest, keysPerFile)
  }

  def warmup(rng: Random, tr: Tracer): Unit = {
    run("cold", rng, tr)()
    (0 until 200).foreach(_ => run("point", rng, tr)())
  }

  private def expectedPath(key: Long): String = {
    val f = key / keysPerFile
    s"/data/m${f / filesPerManifest}-f${f % filesPerManifest}.parquet"
  }

  def run(kind: String, rng: Random, tr: Tracer): () => Unit = kind match {
    case "point" =>
      val key = (rng.nextDouble() * files * keysPerFile).toLong
      val pred = Eq("k", key)
      val (kept, account) = if (!tr.enabled)
          (IcebergTable.load(spark, url).prunedFiles(pred), () => ())
        else tracedPlan(pred, tr)
      () => {
        account()
        checks(kept.size == 1 && kept.head.filePath.endsWith(expectedPath(key)),
          s"point lookup k == $key kept ${kept.size} files, " +
            s"expected exactly ${expectedPath(key)}: ${kept.take(3).map(_.filePath)}")
      }
    case "cold" =>
      Manifests.clearCache()
      val (live, account) = if (!tr.enabled)
          (IcebergTable.load(spark, url).liveFiles(), () => ())
        else tracedPlan(AlwaysTrue, tr)
      () => {
        account()
        checks(live.size == files && live.map(_.filePath).distinct.size == files,
          s"cold full plan returned ${live.size} files, expected $files")
      }
  }

  /** The same planning work as `prunedFiles`, split at its public layer
    * boundaries so each layer gets its own span. Returns the kept files and
    * the counter bookkeeping, which runs off the clock. */
  private def tracedPlan(pred: IcePredicate, tr: Tracer)
      : (Seq[Manifests.DataFileInfo], () => Unit) = {
    val t = loadTable(spark, url, tr)
    tr.span("manifests.list")(t.manifestList)
    val full = pred == AlwaysTrue // cold plans run right after clearCache
    val live = tr.span("manifests.decode")(t.liveFiles(pred))
    val kept = if (full) live
      else tr.span("prune.eval")(live.filter(f => t.fileMightMatchOwnSpec(pred, f)))
    (kept, () => {
      val (mlist, fetched) = manifestTier(t, pred)
      tr.count("manifests.read", fetched.size)
      if (full) {
        tr.count("manifests.entries_decoded", live.size)
        tr.count("manifests.bytes_read", fetched.map(_.length).sum)
      } else {
        tr.count("prune.manifests_total", mlist.size)
        tr.count("prune.manifests_kept", fetched.size)
        tr.count("prune.files_total",
          mlist.map(m => m.addedFilesCount.getOrElse(0) + m.existingFilesCount.getOrElse(0)).sum)
        tr.count("prune.files_kept", kept.size)
      }
    })
  }
}

// ------------------------------------------------------------------ lake_rw

/** Read/write workload on a partitioned merge-on-read lineitem table: point
  * lookups and q06-style range reads (a tenth of them time travel), small
  * appends and row deletes, all checked against the benchmark's own model. */
final class LakeRw(spark: SparkSession, seed: Long, dir: String, checks: Checks)
    extends Workload {
  val rows = 600000L
  val initialAppends = 4
  val appendRows = 400
  val deleteKeys = 3
  val url = s"file:$dir/lineitem"

  // per 10 ops: 8 reads (5 point lookups, 2 range reads, 1 time-travel read
  // alternating between the two) and 2 commits (1 append, 1 delete)
  val templates: Seq[Seq[String]] = Seq("point_tt", "range_tt").map { tt =>
    Seq.fill(5)("point") ++ Seq.fill(2)("range") ++ Seq(tt, "append", "delete")
  }
  val mainKinds = Set("point", "point_tt", "range", "range_tt")
  val sideKinds = Set("append", "delete")

  // model: every row ever appended, the snapshot ordinal that added it, and
  // the ordinal that deleted its order key
  private val lines = mutable.ArrayBuffer.empty[Gen.Line]
  private val addedAt = mutable.ArrayBuffer.empty[Int]
  private val deletedAt = mutable.HashMap.empty[Long, Int]
  private val linesByKey = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
  private val snapshots = mutable.ArrayBuffer.empty[Long]
  private var nextIndex = 0L
  // on-disk size of the table's metadata and data after the last commit
  private var metaBytes = 0L
  private var dataBytes = 0L

  private def batch(from: Long, n: Long, slices: Int): DataFrame = {
    val s = seed
    spark.createDataFrame(
      spark.sparkContext.range(from, from + n, 1, slices).map(i => Gen.row(s, i)),
      Gen.lineitemSchema)
  }

  private def recordAppend(from: Long, n: Long): Unit = {
    val ord = snapshots.size
    (from until from + n).foreach { i =>
      val l = Gen.line(seed, i)
      linesByKey.getOrElseUpdate(l.orderkey, mutable.ArrayBuffer.empty) += lines.size
      lines += l
      addedAt += ord
    }
  }

  private def recordSnapshot(): Unit =
    snapshots += IcebergTable.load(spark, url).currentSnapshot.snapshotId

  def setup(): Unit = {
    deleteTree(localPath(url))
    lines.clear(); addedAt.clear(); deletedAt.clear(); linesByKey.clear(); snapshots.clear()
    IcebergWriter.createTable(spark, url, Gen.lineitemSchema, Seq("l_shipdate" -> "year"))
    val per = rows / initialAppends
    (0 until initialAppends).foreach { j =>
      IcebergWriter.append(spark, url, batch(j * per, per, spark.sparkContext.defaultParallelism))
      recordAppend(j * per, per)
      recordSnapshot()
    }
    nextIndex = rows
    metaBytes = treeBytes(localPath(s"$url/metadata"))
    dataBytes = treeBytes(localPath(s"$url/data"))
  }

  def warmup(rng: Random, tr: Tracer): Unit = {
    val mix = new Mix(templates, rng)
    (1 to 12).foreach(_ => run(mix.next(), rng, tr)())
  }

  private def visible(i: Int, ord: Int): Boolean =
    addedAt(i) <= ord && deletedAt.get(lines(i).orderkey).forall(_ > ord)

  private def liveKey(rng: Random): Long = {
    var k = 0L
    do k = lines(rng.nextInt(lines.size)).orderkey while (deletedAt.contains(k))
    k
  }

  private val day0 = Gen.ShipEpochDay

  def run(kind: String, rng: Random, tr: Tracer): () => Unit = kind match {
    case "point" | "point_tt" =>
      val key = liveKey(rng)
      read(kind.endsWith("_tt"), rng, tr, (col("l_orderkey") === key),
        Eq("l_orderkey", key), i => lines(i).orderkey == key, Some(key))
    case "range" | "range_tt" =>
      // q06: one ship year, discount within 0.01 of a seeded value, quantity cap
      val year = 1993 + rng.nextInt(5)
      val lo = java.time.LocalDate.of(year, 1, 1).toEpochDay - day0
      val hi = java.time.LocalDate.of(year + 1, 1, 1).toEpochDay - day0
      val disc = 2 + rng.nextInt(7)
      val qty = 24 + rng.nextInt(3)
      val ts = (d: Long) => java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond((day0 + d) * 86400L))
      val filter = col("l_shipdate") >= lit(ts(lo)) && col("l_shipdate") < lit(ts(hi)) &&
        col("l_discount").between((disc - 1) / 100.0 - 1e-9, (disc + 1) / 100.0 + 1e-9) &&
        col("l_quantity") < qty
      read(kind.endsWith("_tt"), rng, tr, filter,
        And(GtEq("l_shipdate", ts(lo)), Lt("l_shipdate", ts(hi))),
        { i =>
          val l = lines(i)
          l.shipDay >= lo && l.shipDay < hi && math.abs(l.discountPct - disc) <= 1 &&
            l.quantity < qty
        }, None)
    case "append" =>
      val from = nextIndex
      nextIndex += appendRows
      tr.span("write.append")(IcebergWriter.append(spark, url, batch(from, appendRows, 1)))
      commitFollowUp(tr) { recordAppend(from, appendRows) }
    case "delete" =>
      val keys = Seq.fill(deleteKeys)(liveKey(rng)).distinct
      tr.span("write.delete")(IcebergWriter.deleteRows(spark, url, In("l_orderkey", keys)))
      commitFollowUp(tr) { keys.foreach(k => deletedAt(k) = snapshots.size) }
  }

  private def commitFollowUp(tr: Tracer)(updateModel: => Unit): () => Unit = () => {
    updateModel
    recordSnapshot()
    val m = treeBytes(localPath(s"$url/metadata"))
    val d = treeBytes(localPath(s"$url/data"))
    if (tr.enabled) {
      tr.count("write.commits", 1)
      tr.count("write.metadata_bytes", m - metaBytes)
      tr.count("write.data_bytes", d - dataBytes)
      tr.count("write.manifests", IcebergTable.load(spark, url).manifestList.size)
    }
    metaBytes = m
    dataBytes = d
  }

  /** Pin a snapshot (the current one, or a seeded earlier one), read it
    * through graft-iceberg, and check count and sum(l_quantity) against the
    * model at that snapshot. */
  private def read(timeTravel: Boolean, rng: Random, tr: Tracer,
      filter: org.apache.spark.sql.Column, pred: IcePredicate, matches: Int => Boolean,
      key: Option[Long]): () => Unit = {
    val t = loadTable(spark, url, tr)
    val ord = if (timeTravel) rng.nextInt(snapshots.size) else snapshots.size - 1
    val sid = snapshots(ord)
    val res = query(spark.read.format("graft-iceberg").option("snapshot-id", sid.toString)
      .load(url).filter(filter)
      .agg(count(lit(1)), sum(col("l_quantity")),
        sum(col("l_extendedprice") * col("l_discount"))), tr)
    () => {
      if (tr.enabled) {
        val at = t.atSnapshot(sid)
        tr.count("mor.reads", 1)
        tr.count("mor.delete_files_live", at.liveDeleteFiles.size)
        tr.count("mor.delete_rows_live", at.liveDeleteFiles.map(_.recordCount).sum)
        val (ml, keptMl) = manifestTier(at, pred)
        tr.count("prune.manifests_total", ml.size)
        tr.count("prune.manifests_kept", keptMl.size)
        tr.count("prune.files_total", at.liveFiles().size)
        tr.count("prune.files_kept", at.prunedFiles(pred).size)
      }
      val idx: Iterator[Int] = key match {
        case Some(k) => linesByKey.getOrElse(k, mutable.ArrayBuffer.empty[Int]).iterator
        case None => lines.indices.iterator
      }
      var n = 0L
      var q = 0L
      idx.foreach { i => if (matches(i) && visible(i, ord)) { n += 1; q += lines(i).quantity } }
      val got = res.head
      val gotQ = if (got.isNullAt(1)) 0L else got.getDouble(1).toLong
      checks(got.getLong(0) == n && gotQ == q,
        s"read at snapshot #$ord ($pred): engine count=${got.getLong(0)} " +
          s"sum(l_quantity)=$gotQ, model count=$n sum=$q")
    }
  }

  override def finish(): Unit = {
    val last = snapshots.size - 1
    var n = 0L
    var q = 0L
    lines.indices.foreach { i => if (visible(i, last)) { n += 1; q += lines(i).quantity } }
    val got = spark.read.format("graft-iceberg").load(url)
      .agg(count(lit(1)), sum(col("l_quantity"))).head
    checks(got.getLong(0) == n && got.getDouble(1).toLong == q,
      s"final table: engine count=${got.getLong(0)} sum=${got.getDouble(1)}, " +
        s"model count=$n sum=$q")
  }
}

// ----------------------------------------------------------------- llm_pipe

/** LLM-data pipeline: each op reads the documents and embeddings tables,
  * runs exact dedup, MinHash dedup and LSH top-k for a seeded query set. */
final class LlmPipe(spark: SparkSession, seed: Long, dir: String, checks: Checks)
    extends Workload {
  val docs = 5000
  val vectors = 2000
  val queryPool = 200
  val queriesPerPass = 20
  val k = 10
  val threshold = 0.5
  val docsUrl = s"file:$dir/documents"
  val embUrl = s"file:$dir/embeddings"

  val templates: Seq[Seq[String]] = Seq(Seq("pass"))
  val mainKinds = Set("pass")
  // the dedup steps of each pass; the top-k step alone swung by a quarter
  // from run to run with the machine's load
  val sideKinds = Set("dedup")

  private lazy val texts: IndexedSeq[String] = (0 until docs).map(i => Gen.document(seed, i))
  private lazy val distinctTexts = texts.distinct.size
  /** Exact Jaccard of every pair at or above the threshold, by (id_a < id_b). */
  private var jaccard: Map[(Long, Long), Double] = Map.empty
  private var truthTopK: Map[Long, Seq[Long]] = Map.empty
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

  def setup(): Unit = {
    deleteTree(localPath(docsUrl))
    deleteTree(localPath(embUrl))
    val s = seed
    IcebergWriter.createTable(spark, docsUrl, Gen.documentsSchema)
    IcebergWriter.append(spark, docsUrl, spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) },
        spark.sparkContext.defaultParallelism), Gen.documentsSchema))
    IcebergWriter.createTable(spark, embUrl, Gen.embeddingsSchema)
    IcebergWriter.append(spark, embUrl, spark.createDataFrame(
      spark.sparkContext.range(0, vectors, 1, spark.sparkContext.defaultParallelism).map { i =>
        val (v, label) = Gen.embedding(s, i)
        Row(i, v.toSeq, label)
      }, Gen.embeddingsSchema))
  }

  private def read(url: String, sid: Long): DataFrame =
    spark.read.format("graft-iceberg").option("snapshot-id", sid.toString).load(url)

  /** Distinct word n-grams, tokenized like the engine's `wordShingles`
    * (split on single spaces, n-grams joined by one space). */
  private def shingles(text: String, n: Int): Set[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Ground truth, computed exactly in this process from the generated inputs.
    * Pairs: every pair with word-3-gram Jaccard >= threshold, enumerated
    * through a shingle index (a pair at or above any positive threshold
    * shares a shingle, so the index misses none); the engine's quadratic
    * `Dedup.ngramJaccardPairs` takes minutes at 5,000 documents.
    * Neighbours: the k highest cosines (ties to the lower id, self excluded)
    * for a seeded pool of queries, as `Similarity.bruteForceTopK` ranks them. */
  override def prepare(): Unit = {
    val sh = texts.map(t => shingles(t, 3))
    val byShingle = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sh.indices.foreach(i => sh(i).foreach(g => byShingle.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i))
    val shared = mutable.HashMap.empty[(Int, Int), Int]
    byShingle.valuesIterator.foreach { ids =>
      for (x <- ids.indices; y <- x + 1 until ids.size) {
        val key = (ids(x), ids(y))
        shared(key) = shared.getOrElse(key, 0) + 1
      }
    }
    jaccard = shared.iterator.map { case ((a, b), c) =>
      (a.toLong, b.toLong) -> c.toDouble / (sh(a).size + sh(b).size - c)
    }.filter(_._2 >= threshold).toMap

    val vecs = (0 until vectors).map(i => Gen.embedding(seed, i)._1.map(_.toDouble))
    val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    val pool = (0 until queryPool).map(i => Gen.below(seed, i, 50, vectors).toInt).distinct
    truthTopK = pool.map { q =>
      val cos = vecs.indices.filter(_ != q).map { c =>
        var dot = 0.0
        var d = 0
        while (d < Gen.Dims) { dot += vecs(q)(d) * vecs(c)(d); d += 1 }
        (c, dot / (norms(q) * norms(c)))
      }
      q.toLong -> cos.sortBy { case (c, v) => (-v, c) }.take(k).map(_._1.toLong)
    }.toMap
  }

  /** Passes keep getting faster as the JIT compiles the kernels, steeply
    * for the first four; the window starts after five. */
  def warmup(rng: Random, tr: Tracer): Unit = (1 to 5).foreach(_ => run("pass", rng, tr)())

  def run(kind: String, rng: Random, tr: Tracer): () => Unit = {
    val d = loadTable(spark, docsUrl, tr).currentSnapshot.snapshotId
    val e = loadTable(spark, embUrl, tr).currentSnapshot.snapshotId
    val t0 = System.nanoTime()
    val docsDf = read(docsUrl, d)
    val canonical = tr.span("dedup.exact")(
      Dedup.exactDedup(docsDf, "text", "doc_id").filter(col("is_canonical")).count())
    val pairs = tr.span("dedup.minhash")(Dedup.minhashDedup(docsDf, "text", "doc_id",
      n = 3, k = 64, bands = 16, threshold = threshold).collect())
    val t1 = System.nanoTime()
    lastSub("dedup") = (t1 - t0) / 1e6
    val queries = rng.shuffle(truthTopK.keys.toSeq.sorted).take(queriesPerPass)
    val emb = read(embUrl, e)
    val top = tr.span("sim.lsh_topk")(Similarity.lshTopK(emb,
      emb.filter(col("vec_id").isin(queries: _*)), "embedding", "vec_id", k).collect())
    lastSub("topk") = (System.nanoTime() - t1) / 1e6
    tr.count("dedup.pairs_out", pairs.length)
    () => {
      checks(canonical == distinctTexts,
        s"exact dedup kept $canonical canonical docs, expected $distinctTexts distinct texts")
      val found = pairs.map(r => (r.getLong(0), r.getLong(1)))
      pairs.foreach { r =>
        val exact = jaccard.get((r.getLong(0), r.getLong(1)))
        checks(exact.exists(j => math.abs(j - r.getDouble(2)) < 1e-9),
          s"minhash pair (${r.getLong(0)}, ${r.getLong(1)}) reports Jaccard ${r.getDouble(2)}; " +
            s"exact Jaccard ${exact.getOrElse("below " + threshold)}")
      }
      val byQuery = top.groupBy(_.getLong(0))
      queries.foreach { q =>
        val hits = byQuery.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(1)).map(_.getLong(2))
        checks(hits.length == k && hits.distinct.length == k && !hits.contains(q),
          s"lshTopK for query $q returned ${hits.toSeq}, expected $k distinct non-self hits")
      }
      passes += Map(
        "found_pairs" -> found.map { case (a, b) => Seq(a, b) }.toSeq,
        "topk" -> queries.map { q =>
          Map("query" -> q, "exact" -> truthTopK(q),
            "approx" -> byQuery.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(1))
              .map(_.getLong(2)).toSeq)
        })
    }
  }

  override def report(): Map[String, Any] = Map(
    "exact_pairs" -> jaccard.keys.toSeq.sorted.map { case (a, b) => Seq(a, b) },
    "passes" -> passes.toSeq,
    "distinct_texts" -> distinctTexts)
}
