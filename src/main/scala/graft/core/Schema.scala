package graft.core

/** Core row types of the KG-construction engine.
  *
  * Mirrors the reference's data model (see /root/repo/SURVEY.md §1):
  *   - Span/DocRow: the canonical input table from BASELINE.json input_hint
  *     (reference readers produce the same information:
  *     eschergraph/builder/reader/reader.py:240-265,
  *     eschergraph/builder/reader/multi_modal/data_structure.py:63-72).
  *   - Chunk: eschergraph/builder/models.py:17-24.
  *   - ExtractionLog + DTOs: eschergraph/builder/build_log.py:11-49.
  *   - NodeRow/EdgeRow/PropertyRow/DocumentRow: persisted models at
  *     eschergraph/persistence/adapters/simple_repository/models.py:8-43 and
  *     eschergraph/persistence/document.py:10-29.
  *
  * All IDs are deterministic (UUIDv5-style name UUIDs) so that re-running a
  * stage from checkpoint reproduces byte-identical tables (resumability).
  */
object Kinds {
  val Text = "text"
  val SectionHeader = "section_header"
  val Table = "table"
  val Figure = "figure"
}

/** One element of an interleaved document. `media_ref` is empty for text. */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** Input row: (doc_id, spans) per BASELINE.json input_hint. */
case class DocRow(doc_id: String, spans: Seq[Span])

/** Chunker output (reference Chunk: builder/models.py:17-24). */
case class Chunk(doc_id: String, chunk_id: Int, text: String, token_num: Int)

/** Extraction DTOs (reference build_log.py:11-37). EdgeExt IS the
  * (subj, pred, obj) triple: subj=source, pred=relationship, obj=target. */
case class NodeExt(name: String, description: String)
case class EdgeExt(source: String, target: String, relationship: String)
case class PropertyExt(entity_name: String, properties: Seq[String])

/** Central intermediate record — one per chunk / visual element
  * (reference BuildLog: builder/build_log.py:40-49). */
case class ExtractionLog(
    doc_id: String,
    chunk_id: Int,
    is_visual: Boolean,
    nodes: Seq[NodeExt],
    edges: Seq[EdgeExt],
    properties: Seq[PropertyExt],
    main_visual_entity: String,
    media_ref: String = "",
    visual_kind: String = "")

/** The parity surface: directional triples as extracted
  * (reference EdgeExt semantics, build_log.py:18-23). */
case class Triple(subj: String, pred: String, obj: String, doc_id: String, chunk_id: Int)

/** Visual provenance (reference MetadataVisual: persistence/metadata.py:10-22
  * — `save_location` becomes `media_ref`, `page_num` carries the source
  * span's offset). The reference also inlines the visual's text `content`;
  * we deliberately don't — at corpus scale that would copy the full
  * table/figure text into every provenance entry, and it stays recoverable
  * by joining `media_ref` back to the spans table. */
case class MetaVisual(media_ref: String, page_num: Int, visual_type: String)

/** Provenance struct (reference Metadata: persistence/metadata.py:25-41);
  * `visual` is populated for table/figure-sourced mentions. */
case class Meta(document_id: String, chunk_id: Int, visual: Option[MetaVisual] = None)

/** Graph tables. Level semantics: 0 extracted, 1 community, 2 document
  * (reference graph/node.py:35-37, builder/build_pipeline.py:88-94,149-154). */
case class NodeRow(
    id: String,
    name: String,
    description: String,
    level: Int,
    is_visual: Boolean,
    community_id: String,
    child_ids: Seq[String],
    metadata: Seq[Meta])

case class EdgeRow(id: String, frm: String, to: String, description: String, metadata: Seq[Meta])

case class PropertyRow(id: String, node_id: String, description: String, metadata: Seq[Meta])

case class DocumentRow(id: String, name: String, chunk_num: Int, token_num: Int, tags: Map[String, String])

/** Search-index row (reference VectorSearchResult context:
  * persistence/vector_db/vector_search_result.py:8-15 + sync metadata
  * tools/prepare_sync_data.py:13-77). */
case class IndexRow(
    id: String,
    text: String,
    `type`: String, // node | edge | property
    level: Int,
    document_id: String,
    embedding: Array[Float])

object Ids {
  import java.nio.charset.StandardCharsets
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{concat_ws, md5}

  private val Sep = "\u0001"

  /** The id is the MD5 hex of the \u0001-joined parts — chosen so the
    * DataFrame-side twin [[idCol]] is `md5(concat_ws(sep, ...))`: pure
    * built-ins, whole-stage-codegen'd. (The previous
    * `UUID.nameUUIDFromBytes` UDF paid a `MessageDigest.getInstance` +
    * UDF ser/deser per ROW — jstack'd at ~95 s of one executor's CPU in a
    * 96k-doc build.) Thread-local digest: getInstance is not cheap and
    * MessageDigest is not thread-safe. */
  private val tlMd5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".toCharArray

  /** Deterministic id: same logical object → same id across runs.
    * Byte-identical to [[idCol]] (Spark `md5` = lowercase hex). */
  def of(parts: String*): String = {
    val md = tlMd5.get()
    md.reset()
    val bytes = md.digest(parts.mkString(Sep).getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Column twin of [[of]] — same bytes, same hex, zero UDF. `concat_ws`
    * silently SKIPS null columns (id of (a, null, b) would equal id of
    * (a, b) — a cross-arity collision), while [[of]] renders a null part
    * as the string "null"; coalescing each part keeps the two paths
    * byte-identical on degenerate input. */
  def idCol(parts: Column*): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    md5(concat_ws(Sep, parts.map(p => coalesce(p.cast("string"), lit("null"))): _*))
  }

  def nodeId(docId: String, nameNorm: String, level: Int): String =
    of("node", docId, nameNorm, level.toString)
  def communityId(docScope: String, memberMin: String, level: Int): String =
    of("comm", docScope, memberMin, level.toString)
}

