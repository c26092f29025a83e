package graft.search

import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.core.Tables

/** The TRANSACTION overlay behind the HTTP create/update/patch/delete
  * routes (r12) — the endpoint set the reference DECLARES but stubs
  * (database_logic.py:1049-1187: create_item raises Conflict on a dup /
  * NotFound on a missing collection, delete_item NotFound, collection
  * create/update/delete likewise, delete_collection removes the
  * collection's items too). The engines already existed (A56 changelog
  * serving, A68 merge-patch revisions, B41 tombstones, A67 collection
  * changelog); this class is the mutable changelog they serve over.
  *
  * Model: an in-memory LATEST-REVISION map per (collection, item id) —
  * exactly the A56 changelog compacted at append time (each HTTP write
  * is one revision; later ingest wins; deletes are tombstones). Serving
  * is [[itemsView]]: the immutable base corpus MASKED by a filter on the
  * touched keys (tiny by construction — the overlay is session-scale),
  * UNIONED with the live overlay rows in the items schema. Every read
  * route on the server goes through this view, so a created item is
  * searchable the moment the POST returns.
  *
  * Scale note: the base side stays the full distributed plan (filters
  * still push into the scan; the mask is a per-row predicate, so a read
  * after a write is still one job); only the overlay — bounded by what
  * one API session wrote — lives on the driver. A write volume that
  * outgrows memory belongs to the D40/D42 streaming-ingest path, not an
  * HTTP session.
  */
final class TxnStore(spark: SparkSession, dir: String) {
  private val mapper = new ObjectMapper()

  /** One item revision's typed fields — the items-view row shape. */
  final case class ItemFields(id: String, idNum: Long, collection: String,
      datetime: Option[LocalDateTime], startDt: Option[LocalDateTime],
      endDt: Option[LocalDateTime], lon: Double, lat: Double,
      value: Double, userId: Long, props: Option[String])

  private final case class ItemRev(deleted: Boolean, fields: ItemFields)
  private final case class CollRev(deleted: Boolean, doc: String)

  private val seq = new AtomicLong(0L)
  private val itemRevs = TrieMap.empty[(String, String), ItemRev]
  private val collRevs = TrieMap.empty[String, CollRev]
  // base collections whose items were purged by DELETE /collections/{id}
  private val purgedBase = TrieMap.empty[String, Unit]

  private lazy val itemsSchema = Tables.items(spark, dir).schema
  private lazy val ntz =
    itemsSchema("datetime").dataType == TimestampNTZType
  private lazy val baseMaxIdNum: Long =
    Tables.items(spark, dir).agg(max(col("id_num"))).head().getLong(0)
  /** The base corpus's collection ids: one job on first use, then pinned
    * for the store's life like [[baseMaxIdNum]] and the file listing
    * `Tables.load` pins.
    */
  private lazy val baseCollections: Set[String] =
    Tables.items(spark, dir).select(col("collection")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Fresh EVEN id_num above every base id (even = Point-geometry branch
    * throughout the fixture conventions; monotone = ingest order, the
    * A56 revision key).
    */
  private def nextIdNum(): Long =
    ((baseMaxIdNum >> 1) + seq.incrementAndGet() + 1L) << 1

  def hasItemChanges: Boolean = itemRevs.nonEmpty || purgedBase.nonEmpty

  // ------------------------------------------------------ serving view
  private def tsValue(t: Option[LocalDateTime]): Any = t match {
    case None => null
    case Some(ldt) => if (ntz) ldt else java.sql.Timestamp.valueOf(ldt)
  }

  private def rowOf(f: ItemFields): Row = Row.fromSeq(itemsSchema.fields.map {
    _.name match {
      case "id" => f.id
      case "id_num" => f.idNum
      case "collection" => f.collection
      case "datetime" => tsValue(f.datetime)
      case "start_datetime" => tsValue(f.startDt)
      case "end_datetime" => tsValue(f.endDt)
      case "lon" => f.lon
      case "lat" => f.lat
      case "value" => f.value
      case "user_id" => f.userId
      case "props" => f.props.orNull
      case other => throw new IllegalStateException(s"unmapped items column $other")
    }
  }.toSeq)

  /** The items frame every read route serves: base minus purged
    * collections minus touched keys, plus the live overlay revisions.
    * The touched keys mask the base as
    * `NOT coalesce(OR_c (collection = c AND id IN ids(c)), false)`; the
    * coalesce keeps base rows with null keys, as an anti-join would.
    */
  def itemsView(): DataFrame = {
    val base0 = Tables.items(spark, dir)
    val purged = purgedBase.keySet.toSeq
    val base =
      if (purged.isEmpty) base0
      else base0.where(!col("collection").isin(purged: _*))
    val revs = itemRevs.readOnlySnapshot().toSeq
    if (revs.isEmpty) return base
    val touched = revs.map(_._1).groupBy(_._1).toSeq.sortBy(_._1).map { case (c, keys) =>
      col("collection") === c && col("id").isin(keys.map(_._2).sorted: _*)
    }.reduce(_ || _)
    val live = revs.collect { case (_, ItemRev(false, f)) => rowOf(f) }
    val masked = base.where(!coalesce(touched, lit(false)))
    if (live.isEmpty) masked
    else masked.unionByName(spark.createDataFrame(live.asJava, itemsSchema))
  }

  // ------------------------------------------------------ existence
  private def baseFields(c: String, id: String): Option[ItemFields] =
    Tables.items(spark, dir)
      .where(col("collection") === c && col("id") === id)
      .limit(1).collect().headOption.map { r =>
      def odt(f: String): Option[LocalDateTime] = Option(r.getAs[Any](f)).map {
        case l: LocalDateTime => l
        case t: java.sql.Timestamp => t.toLocalDateTime
      }
      ItemFields(r.getAs[String]("id"), r.getAs[Long]("id_num"),
        r.getAs[String]("collection"), odt("datetime"),
        odt("start_datetime"), odt("end_datetime"),
        r.getAs[Double]("lon"), r.getAs[Double]("lat"),
        r.getAs[Double]("value"), r.getAs[Long]("user_id"),
        Option(r.getAs[String]("props")))
    }

  /** The EFFECTIVE item (overlay latest wins; base under it). */
  def effectiveItem(c: String, id: String): Option[ItemFields] =
    itemRevs.get((c, id)) match {
      case Some(ItemRev(true, _)) => None
      case Some(ItemRev(false, f)) => Some(f)
      case None if purgedBase.contains(c) => None
      case None => baseFields(c, id)
    }

  /** Whether collection `c` exists: created or re-created in the overlay,
    * or in the base corpus and not deleted — no extents query.
    */
  def collectionExists(c: String): Boolean = collRevs.get(c) match {
    case Some(CollRev(deleted, _)) => !deleted
    case None => baseCollections.contains(c) && !purgedBase.contains(c)
  }

  /** The collection documents created or updated over HTTP, by id. */
  def createdCollections: Seq[(String, String)] =
    collRevs.readOnlySnapshot().toSeq.collect {
      case (id, CollRev(false, doc)) => (id, doc)
    }.sortBy(_._1)

  // ------------------------------------------------------ feature codec
  private def parseTs(n: com.fasterxml.jackson.databind.JsonNode,
                      field: String): Option[LocalDateTime] =
    Option(n.get(field)).filterNot(_.isNull).map { v =>
      try LocalDateTime.parse(v.asText.trim.replace(' ', 'T').stripSuffix("Z"))
      catch {
        case e: java.time.format.DateTimeParseException =>
          // client data error → the handler's 400 contract, never a 500
          throw new IllegalArgumentException(
            s"unparseable $field '${v.asText}': ${e.getMessage}")
      }
    }

  /** STAC Feature JSON → typed fields. Point geometry only (the items
    * surface stores (lon, lat)); anything else is a 400.
    */
  private[search] def parseFeature(body: String, collection: String,
                                   idNum: Long): ItemFields = {
    val n = mapper.readTree(body)
    val id = Option(n.get("id")).map(_.asText)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("item must carry an id"))
    val geom = Option(n.get("geometry")).filterNot(_.isNull)
      .getOrElse(throw new IllegalArgumentException("item must carry a geometry"))
    if (Option(geom.get("type")).map(_.asText).getOrElse("") != "Point")
      throw new IllegalArgumentException(
        "transaction items carry Point geometry (the items surface stores lon/lat)")
    val cs = geom.get("coordinates")
    if (cs == null || cs.size() < 2 ||
        !cs.get(0).isNumber || !cs.get(1).isNumber)
      throw new IllegalArgumentException(
        "Point needs numeric [lon, lat] coordinates")
    val (lon, lat) = (cs.get(0).asDouble, cs.get(1).asDouble)
    val props = Option(n.get("properties")).filterNot(_.isNull)
      .map(_.asInstanceOf[ObjectNode])
    val dt = props.flatMap(parseTs(_, "datetime"))
    val sd = props.flatMap(parseTs(_, "start_datetime"))
    val ed = props.flatMap(parseTs(_, "end_datetime"))
    val value = props.flatMap(p => Option(p.get("value"))).filterNot(_.isNull)
      .map(_.asDouble).getOrElse(0.0)
    val userId = props.flatMap(p => Option(p.get("user_id"))).filterNot(_.isNull)
      .map(_.asLong).getOrElse(0L)
    val known = Set("datetime", "start_datetime", "end_datetime", "value", "user_id")
    val extra = props.map { p =>
      val o = mapper.createObjectNode()
      p.fields().asScala.filterNot(e => known.contains(e.getKey))
        .foreach(e => o.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue))
      o
    }.filter(_.size() > 0).map(mapper.writeValueAsString)
    ItemFields(id, idNum, collection, dt, sd, ed, lon, lat, value, userId, extra)
  }

  /** Typed fields → the Feature JSON the PATCH route merges over. */
  private[search] def renderFeature(f: ItemFields): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("type", "Feature")
    o.put("id", f.id)
    o.put("collection", f.collection)
    val g = o.withObject("/geometry")
    g.put("type", "Point")
    val cs = g.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("coordinates")
    cs.add(f.lon); cs.add(f.lat)
    val p = o.withObject("/properties")
    def ts(k: String, v: Option[LocalDateTime]): Unit = v match {
      case Some(t) => p.put(k, t.toString)
      case None => ()
    }
    ts("datetime", f.datetime); ts("start_datetime", f.startDt)
    ts("end_datetime", f.endDt)
    p.put("value", f.value); p.put("user_id", f.userId)
    f.props.foreach { js =>
      mapper.readTree(js).fields().asScala
        .foreach(e => p.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue))
    }
    o
  }

  /** RFC 7386 merge patch: objects merge recursively, null REMOVES,
    * everything else replaces — the A68 per-field LWW doctrine as the
    * HTTP PATCH verb.
    */
  private[search] def mergePatch(target: com.fasterxml.jackson.databind.JsonNode,
                                 patch: com.fasterxml.jackson.databind.JsonNode)
      : com.fasterxml.jackson.databind.JsonNode =
    if (!patch.isObject) patch.deepCopy()
    else {
      val out =
        if (target != null && target.isObject)
          target.deepCopy[ObjectNode]()
        else mapper.createObjectNode()
      patch.fields().asScala.foreach { e =>
        if (e.getValue.isNull) out.remove(e.getKey)
        else out.set[com.fasterxml.jackson.databind.JsonNode](
          e.getKey, mergePatch(out.get(e.getKey), e.getValue))
      }
      out
    }

  // ------------------------------------------------------ transactions
  def createItem(collection: String, body: String): ItemFields = synchronized {
    val f = parseFeature(body, collection, nextIdNum())
    if (effectiveItem(collection, f.id).isDefined)
      throw new TxnConflict(s"Item ${f.id} already exists in collection $collection")
    itemRevs.put((collection, f.id), ItemRev(deleted = false, f))
    f
  }

  def updateItem(collection: String, itemId: String, body: String): ItemFields =
    synchronized {
      if (effectiveItem(collection, itemId).isEmpty)
        throw new TxnMissing(s"Item $itemId does not exist in collection $collection")
      val f0 = parseFeature(body, collection, nextIdNum())
      val f = f0.copy(id = itemId)
      itemRevs.put((collection, itemId), ItemRev(deleted = false, f))
      f
    }

  def patchItem(collection: String, itemId: String, patchBody: String): ItemFields =
    synchronized {
      val cur = effectiveItem(collection, itemId).getOrElse(
        throw new TxnMissing(s"Item $itemId does not exist in collection $collection"))
      val merged = mergePatch(renderFeature(cur), mapper.readTree(patchBody))
      val f = parseFeature(mapper.writeValueAsString(merged), collection,
        nextIdNum()).copy(id = itemId)
      itemRevs.put((collection, itemId), ItemRev(deleted = false, f))
      f
    }

  def deleteItem(collection: String, itemId: String): Unit = synchronized {
    val cur = effectiveItem(collection, itemId).getOrElse(
      throw new TxnMissing(s"Item $itemId does not exist in collection $collection"))
    itemRevs.put((collection, itemId), ItemRev(deleted = true, cur))
  }

  private def collectionDocNode(body: String): com.fasterxml.jackson.databind.JsonNode = {
    val n = mapper.readTree(body)
    if (n == null || !n.isObject)
      throw new IllegalArgumentException("collection body must be a JSON object")
    n
  }

  def createCollection(body: String): String =
    synchronized {
      val n = collectionDocNode(body)
      val id = Option(n.get("id")).map(_.asText).filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException("collection must carry an id"))
      // a deleted collection is re-creatable
      if (collectionExists(id)) throw new TxnConflict(s"Collection $id already exists")
      collRevs.put(id, CollRev(deleted = false, body))
      id
    }

  def updateCollection(id: String, body: String): Unit = synchronized {
    collectionDocNode(body)
    if (!collectionExists(id)) throw new TxnMissing(s"Collection $id does not exist")
    collRevs.put(id, CollRev(deleted = false, body))
  }

  /** delete_collection removes the collection AND its items
    * (database_logic.py:1155-1175 — "all of its items are also cleaned
    * up... avoiding orphaned items").
    */
  def deleteCollection(id: String): Unit =
    synchronized {
      if (!collectionExists(id)) throw new TxnMissing(s"Collection $id does not exist")
      collRevs.put(id, CollRev(deleted = true, "{}"))
      itemRevs.keys.filter(_._1 == id).foreach(itemRevs.remove)
      purgedBase.put(id, ())
    }
}
/** 409 Conflict — create on something that already exists. */
final class TxnConflict(msg: String) extends RuntimeException(msg)
/** 404 Not Found — mutate on something that does not exist. */
final class TxnMissing(msg: String) extends RuntimeException(msg)
