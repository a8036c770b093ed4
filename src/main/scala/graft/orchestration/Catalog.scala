package graft.orchestration

import org.apache.spark.sql.Dataset

import graft.model.{PipelineDef, PipelineTrigger}

/** The pipeline catalog as plain driver values: the reference's
  * `pipeline_defs` collection and its trigger edges
  * (`kalytical/core/data_provider.py`), indexed once per catalog value
  * — defs by uuid, dispatch [[StateMachine.Meta]] per pipeline, and
  * child edges by parent. The reference answers a read or an event with
  * a few document lookups (`dispatcher.py:15-68`); this is the index
  * those lookups probe. The reads (D1–D3) and the mutations
  * (D5–D7) are row functions; a mutation returns a new Catalog, which
  * the holder swaps in — the reference's upsert/replace pattern without
  * the Mongo mutex. Guards implement the INTENDED semantics (SURVEY
  * §8.7–8.9): trigger references must exist (D5), deletes refuse when
  * downstream pipelines depend on the target (D6) unless
  * `safeDelete=false`.
  *
  * The rows are loaded on first read: a catalog built from Datasets
  * (the companion's Dataset boundary) collects them then, once, instead
  * of at construction.
  */
final class Catalog private (loadDefs: () => Seq[PipelineDef],
                             loadEdges: () => Seq[PipelineTrigger]) {
  lazy val defs: Vector[PipelineDef] = loadDefs().toVector
  lazy val edges: Vector[PipelineTrigger] = loadEdges().toVector
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

  /** D5 — upsert with referential trigger validation: every declared
    * trigger must name a def already in the catalog. The def and its
    * trigger rows replace any previous ones and go to the end. */
  def upsert(d: PipelineDef, triggers: Seq[PipelineTrigger]): Catalog = {
    require(d.pipeline_uuid.matches("^[a-z0-9-]+$"), s"invalid pipeline_uuid: ${d.pipeline_uuid}")
    val missing = triggers.map(_.trigger_uuid).filterNot(byUuid.contains)
    require(missing.isEmpty, s"triggers reference unknown pipelines: ${missing.mkString(", ")}")
    put(Seq(d), triggers)
  }

  /** D6 — delete with orphan guard: refuses when other pipelines trigger
    * on the target (intended semantics, §8.8). The target's own trigger
    * rows go with it. */
  def delete(uuid: String, safeDelete: Boolean = true): Catalog = {
    if (safeDelete)
      require(!edges.exists(_.trigger_uuid == uuid),
        s"cannot delete $uuid: downstream pipelines depend on it")
    drop(Seq(uuid))
  }

  /** D7 — bulk delete of a D2 result set with the flushed defs' own
    * trigger rows. Flush bypasses the D6 orphan guard, so an edge from a
    * survivor onto a flushed def stays (the dispatcher warns on it). */
  def flush(prefix: String): Catalog = drop(list(Some(prefix)).map(_.pipeline_uuid))

  /** `defs` with their trigger rows `edges`, unvalidated: each replaces
    * any previous def of its uuid and that def's trigger rows, and goes
    * to the end. */
  def put(defs: Seq[PipelineDef], edges: Seq[PipelineTrigger]): Catalog = {
    val gone = defs.map(_.pipeline_uuid).toSet
    Catalog(this.defs.filterNot(d => gone(d.pipeline_uuid)) ++ defs,
      this.edges.filterNot(e => gone(e.pipeline_uuid)) ++ edges)
  }

  /** These defs without `uuids` and their trigger rows, unguarded. */
  def drop(uuids: Seq[String]): Catalog = {
    val gone = uuids.toSet
    Catalog(defs.filterNot(d => gone(d.pipeline_uuid)), edges.filterNot(e => gone(e.pipeline_uuid)))
  }

  /** A journaled mutation replayed over this catalog (a whole one over
    * the empty catalog) through the row functions the live mutation
    * used, so the result equals the live catalog, order included. */
  def replay(c: Catalog.Change): Catalog =
    (if (c.whole) Catalog(Nil, Nil) else this).drop(c.dropped).put(c.defs, c.edges)

  /** These defs with `edges`, collected on first read. */
  def withEdges(edges: Dataset[PipelineTrigger]): Catalog =
    new Catalog(() => defs, () => edges.collect().toSeq)
}

object Catalog {

  /** One catalog mutation as the service's journal holds it: the
    * `dropped` defs go with their trigger rows, then `defs` are put with
    * their trigger rows `edges`. An upsert is one def and its rows, a
    * delete or a flush the uuids it drops; a `whole` change is a whole
    * catalog, which replaces the one it is replayed over. */
  final case class Change(defs: Seq[PipelineDef] = Nil, edges: Seq[PipelineTrigger] = Nil,
                          dropped: Seq[String] = Nil, whole: Boolean = false)

  object Change {
    def whole(c: Catalog): Change = Change(c.defs, c.edges, whole = true)
  }

  def apply(defs: Seq[PipelineDef], edges: Seq[PipelineTrigger]): Catalog =
    new Catalog(() => defs, () => edges)

  /** The Dataset boundary: a catalog of `defs` with no edges, collected
    * on first read; [[Catalog.withEdges]] adds the edges the same way. */
  def apply(defs: Dataset[PipelineDef]): Catalog =
    new Catalog(() => defs.collect().toSeq, () => Nil)
}
