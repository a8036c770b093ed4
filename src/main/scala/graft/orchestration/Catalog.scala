package graft.orchestration

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PipelineDef, PipelineTrigger}

/** Pipeline catalog: the reference's `pipeline_defs` collection and its
  * mutations (`/root/reference/src/kalytical/core/data_provider.py`
  * D5–D7) over immutable Datasets; the reads (D1–D4, D8) are
  * [[CatalogSnapshot]]'s.
  *
  * Writes are functional (return a new Catalog) — persisting is an
  * overwrite of a tiny metadata relation, mirroring the reference's
  * upsert/replace pattern without the Mongo mutex. Guards implement the
  * INTENDED semantics (SURVEY §8.7–8.9): trigger references must exist
  * (D5), deletes refuse when downstream pipelines depend on the target
  * (D6) unless `safeDelete=false`.
  */
final case class Catalog(defs: Dataset[PipelineDef]) {
  private def spark: SparkSession = defs.sparkSession

  /** D2 — prefix + tag filtered header listing (the row verb of
    * [[CatalogSnapshot.list]] over the collected defs). */
  def list(prefix: Option[String] = None, tagTeam: Option[String] = None,
           tagEnv: Option[String] = None): DataFrame =
    spark.createDataset(CatalogSnapshot(defs.collect().toVector, Vector.empty)
      .list(prefix, tagTeam, tagEnv))(Encoders.product[PipelineDef]).drop("pipeline_body")

  /** D5 — upsert with referential trigger validation: every declared
    * trigger must name an existing def (left-anti must be empty). */
  def upsert(d: PipelineDef, triggers: Seq[PipelineTrigger]): Catalog = {
    require(d.pipeline_uuid.matches("^[a-z0-9-]+$"), s"invalid pipeline_uuid: ${d.pipeline_uuid}")
    val declared = spark.createDataset(triggers.map(_.trigger_uuid))(Encoders.STRING)
      .toDF("trigger_uuid")
    val missing = declared
      .join(defs.select(col("pipeline_uuid").as("trigger_uuid")), Seq("trigger_uuid"), "left_anti")
      .collect().map(_.getString(0))
    require(missing.isEmpty, s"triggers reference unknown pipelines: ${missing.mkString(", ")}")
    val replaced = defs.where(col("pipeline_uuid") =!= d.pipeline_uuid)
      .unionByName(spark.createDataset(Seq(d))(Encoders.product[PipelineDef]))
    Catalog(replaced)
  }

  /** D6 — delete with orphan guard: refuses when other pipelines trigger
    * on the target (intended semantics, §8.8). */
  def delete(uuid: String, edges: Dataset[PipelineTrigger], safeDelete: Boolean = true): Catalog = {
    if (safeDelete) {
      val orphanCount = edges.where(col("trigger_uuid") === uuid).limit(1).count()
      require(orphanCount == 0, s"cannot delete $uuid: downstream pipelines depend on it")
    }
    Catalog(defs.where(col("pipeline_uuid") =!= uuid))
  }

  /** D7 — bulk delete of a D2 result set via left-anti rewrite. */
  def flush(prefix: String): Catalog = {
    val doomed = list(Some(prefix)).select("pipeline_uuid")
    Catalog(defs.join(doomed, Seq("pipeline_uuid"), "left_anti")
      .as[PipelineDef](Encoders.product[PipelineDef]))
  }
}

/** The catalog as plain driver values, indexed once: defs by uuid,
  * dispatch [[StateMachine.Meta]] per pipeline, and child edges by
  * parent. The reference answers a read or an event with a few document
  * lookups (`dispatcher.py:15-68`); this is the index those lookups
  * probe, built once per catalog mutation (`GraftApi.snapshot`) instead
  * of once per event. Every read verb here is the one implementation:
  * the Dataset verbs wrap these rows in a local relation. */
final case class CatalogSnapshot(defs: Vector[PipelineDef], edges: Vector[PipelineTrigger]) {
  lazy val byUuid: Map[String, PipelineDef] = defs.map(d => d.pipeline_uuid -> d).toMap
  lazy val metas: Map[String, StateMachine.Meta] = Dispatcher.metaMap(defs, edges)
  lazy val childEdges: Map[String, Vector[PipelineTrigger]] = edges.groupBy(_.trigger_uuid)

  /** D2 — prefix + tag filter, in catalog order. The prefix is validated
    * against the uuid alphabet first (reference `data_provider.py:41-44`,
    * fixed per §8.6 to accept '-'). */
  def list(prefix: Option[String] = None, tagTeam: Option[String] = None,
           tagEnv: Option[String] = None): Vector[PipelineDef] = {
    prefix.foreach { p =>
      require(p.matches("^[a-z0-9-]+$"), s"invalid pipeline prefix: $p")
    }
    defs.filter(d => prefix.forall(d.pipeline_uuid.startsWith) &&
      tagTeam.forall(d.tags_team.contains) && tagEnv.forall(d.tags_env.contains))
  }

  /** D3 — point lookup, full definition (D4/D8 project it). */
  def describe(uuid: String): Vector[PipelineDef] = byUuid.get(uuid).toVector

  /** D1 — all defs triggering on `uuid` (reverse-edge lookup), in
    * catalog order. */
  def downstream(uuid: String): Vector[PipelineDef] = {
    val kids = childEdges.getOrElse(uuid, Vector.empty).map(_.pipeline_uuid).toSet
    defs.filter(d => kids(d.pipeline_uuid))
  }
}
