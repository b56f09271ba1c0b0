package graft.iceberg

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Metadata-only table for the lake benchmark's planning workload, in the
  * shape of PlanningScaleSpec's synthetic manifest table: `manifests` x
  * `filesPerManifest` data-file entries committed in one snapshot, with no
  * data bytes behind them. Unlike that spec, every file carries real,
  * disjoint lower/upper bounds on the sorted key `k`, and the table is
  * partitioned by `truncate[keysPerManifest](k)`, so manifest summaries and
  * file bounds both have pruning work to do.
  *
  * File `f` holds keys [f * keysPerFile, (f + 1) * keysPerFile). This lives
  * in the engine's package because it commits pre-written manifests through
  * the writer's package-private entry points; the benchmark's timed
  * operations use only public functions. */
object SyntheticLake {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = true)))

  def create(spark: SparkSession, url: String, manifests: Int,
      filesPerManifest: Int, keysPerFile: Long): Unit = {
    val keysPerManifest = filesPerManifest * keysPerFile
    require(keysPerManifest <= Int.MaxValue, "truncate width must fit an int")
    IcebergWriter.createTable(spark, url, schema, Seq("k" -> s"truncate[$keysPerManifest]"))
    val table = IcebergTable.load(spark, url)
    val kId = table.iceSchema.fields.find(_.name == "k").get.id
    val vId = table.iceSchema.fields.find(_.name == "v").get.id
    val specInfo = table.partitionSpec.fields.map(pf => (pf, "long", "long"))
    val conf = spark.sessionState.newHadoopConf()
    val sid = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val infos = (0 until manifests).par.map { m =>
      val path = s"$url/metadata/synth-$m.avro"
      val part = m * keysPerManifest
      val entries = (0 until filesPerManifest).map { i =>
        val f = m.toLong * filesPerManifest + i
        val lo = IcebergTypes.encodeBound(f * keysPerFile, "long")
        val hi = IcebergTypes.encodeBound((f + 1) * keysPerFile - 1, "long")
        (s"$url/data/m$m-f$i.parquet", 1024L,
          IcebergWriter.FileStats(keysPerFile, Map(kId -> lo), Map(kId -> hi),
            Map(kId -> keysPerFile, vId -> keysPerFile), Map(kId -> 0L, vId -> 0L)),
          Seq[Any](part), Manifests.Status.Added)
      }
      IcebergWriter.writeManifestEntries(path, sid, entries, specInfo, conf)
      val bound = Some(IcebergTypes.encodeBound(part, "long"))
      IcebergWriter.NewManifestInfo(path, Manifests.ManifestContent.Data,
        filesPerManifest, filesPerManifest * keysPerFile, 0, 0L, Seq((false, bound, bound)))
    }.seq
    IcebergWriter.commitDataFiles(spark, url, java.util.UUID.randomUUID().toString, Nil,
      deletePred = None, operation = "append", extraManifests = infos,
      presetSnapshotId = Some(sid))
  }
}
