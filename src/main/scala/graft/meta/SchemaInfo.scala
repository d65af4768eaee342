package graft.meta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.io.Parquet

/** A property key of the graph schema: name + data type.
  * Ref: api/.../service/InfoService.scala:37-103 (PropertyKeyInfo),
  * common/.../models/RequestResponse.scala:3-39.
  */
case class PropertyKeyInfo(name: String, dataType: String)

/** Schema metadata of one managed graph: the `POST /info` payload of the
  * reference's REST API re-expressed over the Parquet system of record.
  */
case class SchemaInfo(
    vertexLabels: List[String],
    vertexPropertyKeys: List[PropertyKeyInfo],
    edgeLabels: List[String],
    edgePropertyKeys: Map[String, List[PropertyKeyInfo]]
)

/** Catalog-metadata dump for the vertex + edge tables — the engine's
  * analogue of the reference's JanusGraph management-API walk
  * (api/.../MgmtApi.scala:35-50, InfoService.scala:37-103). The REST layer
  * is intentionally out of scope (zero-egress container); this pure
  * function is the API's body, callable from any HTTP frontend.
  *
  * Scale notes: reads only one Parquet *footer* per store, on the driver
  * ([[graft.io.Parquet.read]]), and directory names — no data scan and no
  * Spark job.
  */
object SchemaInfo {

  private def props(schema: StructType): List[PropertyKeyInfo] =
    schema.fields.map(f => PropertyKeyInfo(f.name, f.dataType.simpleString)).toList

  /** Edge labels = `label=` partition dirs of the edge store. */
  def edgeLabels(spark: SparkSession, edgeBasePath: String): List[String] = {
    val p  = new org.apache.hadoop.fs.Path(edgeBasePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else
      fs.listStatus(p)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("label="))
        .map(_.stripPrefix("label="))
        .sorted
        .toList
  }

  def describe(
      spark: SparkSession,
      vertexTablePath: String,
      edgeBasePath: String,
      vertexLabel: String = "alert"
  ): SchemaInfo = {
    val vertexProps =
      try props(Parquet.read(spark, vertexTablePath).schema)
      catch { case _: org.apache.spark.sql.AnalysisException => Nil }
    val labels = edgeLabels(spark, edgeBasePath)
    val edgeProps = labels.map { l =>
      l -> props(Parquet.read(spark, s"$edgeBasePath/label=$l").schema)
    }.toMap
    SchemaInfo(
      vertexLabels = if (vertexProps.isEmpty) Nil else List(vertexLabel),
      vertexPropertyKeys = vertexProps,
      edgeLabels = labels,
      edgePropertyKeys = edgeProps
    )
  }

  /** JSON rendering (hand-rolled; property names/types are identifier-safe). */
  def toJson(info: SchemaInfo): String = {
    def arr(xs: List[String])         = xs.map(s => s""""$s"""").mkString("[", ",", "]")
    def pk(p: PropertyKeyInfo)        = s"""{"name":"${p.name}","dataType":"${p.dataType}"}"""
    def pks(ps: List[PropertyKeyInfo]) = ps.map(pk).mkString("[", ",", "]")
    val edges = info.edgePropertyKeys.toSeq.sortBy(_._1)
      .map { case (l, ps) => s""""$l":${pks(ps)}""" }.mkString("{", ",", "}")
    s"""{"vertexLabels":${arr(info.vertexLabels)},"vertexPropertyKeys":${pks(info.vertexPropertyKeys)},""" +
      s""""edgeLabels":${arr(info.edgeLabels)},"edgePropertyKeys":$edges}"""
  }
}
