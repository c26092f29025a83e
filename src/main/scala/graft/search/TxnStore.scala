package graft.search

import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

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
  * is one revision; later ingest wins; deletes are tombstones). An item
  * has one form: its items-view `Row` (the schema of `Tables.items`),
  * decoded from the request body by [[parseFeature]] and read back by
  * [[renderFeature]]; a base item is the row `Tables.items` returns.
  * Serving is [[itemsView]]: the immutable base corpus MASKED by a
  * filter on the touched keys (tiny by construction — the overlay is
  * session-scale), UNIONED with the stored rows as they are. Every read
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

  private val seq = new AtomicLong(0L)
  // latest revision per (collection, item id): its items-view row, or a
  // tombstone (None)
  private val itemRevs = TrieMap.empty[(String, String), Option[Row]]
  // latest document per collection created or updated over HTTP, or a
  // tombstone (None)
  private val collRevs = TrieMap.empty[String, Option[String]]
  // base collections whose items were purged by DELETE /collections/{id}
  private val purgedBase = TrieMap.empty[String, Unit]

  private lazy val itemsSchema = Tables.items(spark, dir).schema
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
  /** The items frame every read route serves: base minus purged
    * collections minus touched keys, plus the live overlay rows.
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
    val live = revs.flatMap(_._2)
    val masked = base.where(!coalesce(touched, lit(false)))
    if (live.isEmpty) masked
    else masked.unionByName(spark.createDataFrame(live.asJava, itemsSchema))
  }

  // ------------------------------------------------------ existence
  /** The EFFECTIVE item (overlay latest wins; the base row under it). */
  private def effectiveItem(c: String, id: String): Option[Row] =
    itemRevs.get((c, id)) match {
      case Some(rev) => rev
      case None if purgedBase.contains(c) => None
      case None =>
        Tables.items(spark, dir).where(col("collection") === c && col("id") === id)
          .limit(1).collect().headOption
    }

  /** Whether collection `c` exists: created or re-created in the overlay,
    * or in the base corpus and not deleted — no extents query.
    */
  private def collectionExists(c: String): Boolean = collRevs.get(c) match {
    case Some(doc) => doc.isDefined
    case None => baseCollections.contains(c) && !purgedBase.contains(c)
  }

  /** The one existence rule of the `/collections/{c}/…` routes: a
    * [[TxnMissing]] (404) unless collection `c` exists.
    */
  def requireCollection(c: String): Unit =
    if (!collectionExists(c)) throw new TxnMissing(s"Collection $c does not exist")

  /** The collection documents created or updated over HTTP, by id. */
  def createdCollections: Seq[(String, String)] =
    collRevs.readOnlySnapshot().toSeq.collect {
      case (id, Some(doc)) => (id, doc)
    }.sortBy(_._1)

  // ------------------------------------------------------ feature codec
  private val timeCols = Seq("datetime", "start_datetime", "end_datetime")

  private def parseTs(n: JsonNode, field: String): Option[Timestamp] =
    Option(n.get(field)).filterNot(_.isNull).map { v =>
      try Timestamp.valueOf(LocalDateTime.parse(
        v.asText.trim.replace(' ', 'T').stripSuffix("Z")))
      catch {
        case e: java.time.format.DateTimeParseException =>
          // client data error → the handler's 400 contract, never a 500
          throw new IllegalArgumentException(
            s"unparseable $field '${v.asText}': ${e.getMessage}")
      }
    }

  private def itemId(n: JsonNode): String =
    Option(n.get("id")).map(_.asText).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("item must carry an id"))

  /** The document under the route's item id. The body must still carry
    * an id of its own, as a created item must.
    */
  private def withId(n: JsonNode, id: String): JsonNode = {
    itemId(n)
    n.asInstanceOf[ObjectNode].put("id", id)
  }

  /** STAC Feature JSON → its items-view row, in schema order. Point
    * geometry only (the items surface stores (lon, lat)); anything else
    * is a 400. Properties other than the typed columns go to `props`.
    */
  private[search] def parseFeature(n: JsonNode, collection: String, idNum: Long): Row = {
    val id = itemId(n)
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
    val props = Option(n.get("properties")).filterNot(_.isNull)
      .map(_.asInstanceOf[ObjectNode])
    def member(k: String): Option[JsonNode] =
      props.flatMap(p => Option(p.get(k))).filterNot(_.isNull)
    val known = timeCols.toSet ++ Set("value", "user_id")
    val extra = props.map { p =>
      val o = mapper.createObjectNode()
      p.fields().asScala.filterNot(e => known.contains(e.getKey))
        .foreach(e => o.set[JsonNode](e.getKey, e.getValue))
      o
    }.filter(_.size() > 0).map(mapper.writeValueAsString)
    new GenericRowWithSchema(itemsSchema.fieldNames.map {
      case "id" => id
      case "id_num" => idNum
      case "collection" => collection
      case t if timeCols.contains(t) => props.flatMap(parseTs(_, t)).orNull
      case "lon" => cs.get(0).asDouble
      case "lat" => cs.get(1).asDouble
      case "value" => member("value").map(_.asDouble).getOrElse(0.0)
      case "user_id" => member("user_id").map(_.asLong).getOrElse(0L)
      case "props" => extra.orNull
      case other => throw new IllegalStateException(s"unmapped items column $other")
    }, itemsSchema)
  }

  /** An items-view row → the Feature JSON the write routes answer with
    * and PATCH merges over.
    */
  private[search] def renderFeature(r: Row): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("type", "Feature")
    o.put("id", r.getAs[String]("id"))
    o.put("collection", r.getAs[String]("collection"))
    val g = o.withObject("/geometry")
    g.put("type", "Point")
    val cs = g.withArray[ArrayNode]("coordinates")
    cs.add(r.getAs[Double]("lon")); cs.add(r.getAs[Double]("lat"))
    val p = o.withObject("/properties")
    timeCols.foreach { k =>
      Option(r.getAs[Timestamp](k)).foreach(t => p.put(k, t.toLocalDateTime.toString))
    }
    p.put("value", r.getAs[Double]("value")); p.put("user_id", r.getAs[Long]("user_id"))
    Option(r.getAs[String]("props")).foreach { js =>
      mapper.readTree(js).fields().asScala.foreach(e => p.set[JsonNode](e.getKey, e.getValue))
    }
    o
  }

  /** RFC 7386 merge patch: objects merge recursively, null REMOVES,
    * everything else replaces — the A68 per-field LWW doctrine as the
    * HTTP PATCH verb.
    */
  private[search] def mergePatch(target: JsonNode, patch: JsonNode): JsonNode =
    if (!patch.isObject) patch.deepCopy()
    else {
      val out =
        if (target != null && target.isObject)
          target.deepCopy[ObjectNode]()
        else mapper.createObjectNode()
      patch.fields().asScala.foreach { e =>
        if (e.getValue.isNull) out.remove(e.getKey)
        else out.set[JsonNode](e.getKey, mergePatch(out.get(e.getKey), e.getValue))
      }
      out
    }

  // ------------------------------------------------------ transactions
  // Each write stores one row and answers with that row's document.
  private def write(r: Row): ObjectNode = {
    itemRevs.put((r.getAs[String]("collection"), r.getAs[String]("id")), Some(r))
    renderFeature(r)
  }

  private def current(collection: String, itemId: String): Row =
    effectiveItem(collection, itemId).getOrElse(
      throw new TxnMissing(s"Item $itemId does not exist in collection $collection"))

  def createItem(collection: String, body: String): ObjectNode = synchronized {
    requireCollection(collection)
    val r = parseFeature(mapper.readTree(body), collection, nextIdNum())
    val id = r.getAs[String]("id")
    if (effectiveItem(collection, id).isDefined)
      throw new TxnConflict(s"Item $id already exists in collection $collection")
    write(r)
  }

  /** PUT replaces the item under a fresh id_num: its body must be a Point. */
  def updateItem(collection: String, itemId: String, body: String): ObjectNode =
    synchronized {
      current(collection, itemId)
      write(parseFeature(withId(mapper.readTree(body), itemId), collection, nextIdNum()))
    }

  /** PATCH keeps the item's id_num, so a base area item keeps its
    * footprint, bbox and projection members.
    */
  def patchItem(collection: String, itemId: String, patchBody: String): ObjectNode =
    synchronized {
      val cur = current(collection, itemId)
      val merged = mergePatch(renderFeature(cur), mapper.readTree(patchBody))
      write(parseFeature(withId(merged, itemId), collection, cur.getAs[Long]("id_num")))
    }

  def deleteItem(collection: String, itemId: String): Unit = synchronized {
    current(collection, itemId)
    itemRevs.put((collection, itemId), None)
  }

  private def collectionDocNode(body: String): JsonNode = {
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
      collRevs.put(id, Some(body))
      id
    }

  def updateCollection(id: String, body: String): Unit = synchronized {
    collectionDocNode(body)
    requireCollection(id)
    collRevs.put(id, Some(body))
  }

  /** delete_collection removes the collection AND its items
    * (database_logic.py:1155-1175 — "all of its items are also cleaned
    * up... avoiding orphaned items").
    */
  def deleteCollection(id: String): Unit =
    synchronized {
      requireCollection(id)
      collRevs.put(id, None)
      itemRevs.keys.filter(_._1 == id).foreach(itemRevs.remove)
      purgedBase.put(id, ())
    }
}
/** 409 Conflict — create on something that already exists. */
final class TxnConflict(msg: String) extends RuntimeException(msg)
/** 404 Not Found — mutate on something that does not exist. */
final class TxnMissing(msg: String) extends RuntimeException(msg)
