package graft.api

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.{Doc, Triplet}
import graft.rag.{GraphRag, RagConfig}
import graft.sources.GraphStore
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** REST façade over the engine — the reference's FastAPI surface (api/app.py:
  * /query :550-667, /add_documents :379-421, graph listing/deletion :847-978)
  * on the JDK's built-in HTTP server; Jackson (already on Spark's classpath)
  * for JSON. Zero additional dependencies.
  *
  * Routes:
  *   GET    /health
  *   GET    /settings                    → engine config introspection (app.py:321-337)
  *   GET    /documents?graph_name&query&top_k → list/search documents (app.py:786-818);
  *                                        query → passage KNN, no query → empty list
  *   GET    /graphs                      → ["name", ...]
  *
  * Reference-shaped ALIASES (exact app.py route spellings; graph selected by
  * ?graph_name=…, default "default") normalize onto the nested surface
  * before dispatch: GET/PUT/DELETE /documents/{id}, POST /add_documents
  * (object body {documents, ids?, triplets?} accepted), POST /import,
  * POST /query, and the singular /graph/{g}/… spellings (stats, neighbors,
  * DELETE /graph/{g}).
  *   GET    /graphs/{g}/documents/{id}   → passage row with adjacency
  *   GET    /graphs/{g}/stats            → {entities, relations, passages}
  *   GET    /graphs/{g}/health           → rows + files/bytes per table + index presence
  *   POST   /graphs/{g}/documents        ← [{id, text, triplets: [[s,p,o],...]}, ...]
  *   POST   /graphs/{g}/import           ← {path, chunk_size?, overlap?} (app.py:423-474)
  *   POST   /upload                      ← multipart files + chunk/graph form fields (app.py:476-548)
  *   GET    /graphs/{g}/neighbors/{id}?limit=n (app.py:697-761)
  *   PUT    /graphs/{g}/documents/{id}   ← {text} — re-embeds on text change (app.py:765-820)
  *   DELETE /graphs/{g}/documents/{id}   — cascade (app.py:822-874)
  *   DELETE /graphs/{g}/relations/{id}   — cascade (graph/graph.py:430-475)
  *   POST   /graphs/{g}/query            ← {question, ...knobs} → QueryResult JSON
  *   POST   /graphs/{g}/retrieve         ← {question, ...knobs} → retrieval-only JSON
  *   POST   /graphs/{g}/retrieve_naive   ← {question, top_k?} → passage KNN only (R6)
  *   POST   /graphs/{g}/retrieve_hybrid  ← {question, top_k?} → dense+BM25 RRF fusion
  *   POST   /graphs/{g}/retrieve_diverse ← {question, top_k?, lambda?} → MMR-reranked dense run
  *   GET    /graphs/{g}/importance?limit=n → PageRank entity centrality
  *   POST   /graphs/{g}/match_entities   ← {names, max_dist?, top_k?} → fuzzy lookup
  *   DELETE /graphs/{g}
  *
  * Query/retrieve bodies accept per-request overrides of the retrieval config
  * (entity_top_k, relation_top_k, entity_similarity_threshold,
  * relation_similarity_threshold, expansion_degree, relation_number_threshold,
  * rerank_select, top_k) — the knobs api/app.py:550-667 exposes per request.
  *
  * One Spark driver hosts the server, and every route calls the programmatic
  * API. /query, /retrieve and /retrieve_naive are answered from the graph's
  * driver-resident snapshot with zero Spark jobs whenever [[GraphRag.retrieve]]
  * may use it (no ANN probe, a graph within the snapshot's heap share); other
  * routes, and those three past the rule, run DataFrame jobs. The HTTP layer
  * is the JDK's `HttpServer`: API-surface parity with the reference, not a
  * tuned front end.
  */
final class RestServer(spark: SparkSession, storeBase: String,
    config: RagConfig = RagConfig(), port: Int = 0,
    embedder: graft.functions.Embedder = graft.functions.HashEmbedder()) {

  private val mapper = new ObjectMapper()
  private val store = new GraphStore(spark, storeBase)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  def boundPort: Int = server.getAddress.getPort

  private def rag(graph: String, cfg: RagConfig = config) =
    new GraphRag(spark, store, graph, cfg, embedder)

  /** `?a=1&b=2` → Map("a" -> "1", "b" -> "2") (URL-decoded values). */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&"))
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case Array(k) => Some(k -> "")
          case _ => None
        }
      }.toMap

  /** A client error in a request body: answered 400, not 500. */
  private final class BadRequest(msg: String) extends RuntimeException(msg)

  /** A field value as an error message quotes it (`null` when absent). */
  private def shown(n: JsonNode): String =
    if (n != null && n.isTextual) n.asText else String.valueOf(n)

  /** Integer body field `name`, which must be ≥ `min`: a JSON integer or an
    * integer string. Anything else is a [[BadRequest]] — Jackson's asInt()
    * would silently read "abc" as 0. */
  private def intField(body: JsonNode, name: String, min: Int): Int = {
    val n = body.get(name)
    val v =
      if (n.isIntegralNumber && n.canConvertToInt) Some(n.intValue)
      else if (n.isTextual) n.asText.toIntOption
      else None
    v.filter(_ >= min).getOrElse(throw new BadRequest(
      s"$name must be an integer >= $min, got '${shown(n)}'"))
  }

  /** Finite numeric body field `name`: a JSON number or a numeric string.
    * Anything else is a [[BadRequest]] — asDouble() would read "abc" as 0.0. */
  private def doubleField(body: JsonNode, name: String): Double = {
    val n = body.get(name)
    val v =
      if (n.isNumber) Some(n.doubleValue)
      else if (n.isTextual) n.asText.toDoubleOption
      else None
    v.filter(d => !d.isNaN && !d.isInfinite).getOrElse(throw new BadRequest(
      s"$name must be a finite number, got '${shown(n)}'"))
  }

  /** Required string body field `name`. A missing field or another JSON type
    * is a [[BadRequest]] — `get(name).asText()` would throw an NPE. */
  private def stringField(body: JsonNode, name: String): String = {
    val n = body.get(name)
    if (n != null && n.isTextual) n.asText
    else throw new BadRequest(s"$name must be a string, got '${shown(n)}'")
  }

  /** Query-parameter or form-field text `raw` of `name` as an integer ≥
    * `min`; anything else is a [[BadRequest]]. */
  private def intAtLeast(name: String, raw: String, min: Int): Int =
    raw.toIntOption.filter(_ >= min).getOrElse(
      throw new BadRequest(s"$name must be an integer >= $min, got '$raw'"))

  /** Positive integer query parameter `name`, `default` when absent. */
  private def positiveParam(ex: HttpExchange, name: String, default: Int): Int =
    queryParams(ex).get(name).fold(default)(intAtLeast(name, _, 1))

  /** Chunker's contract 0 ≤ overlap < chunk size, checked on request knobs
    * so a bad pair is a 400 rather than a failed Spark job. */
  private def checkOverlap(chunkSize: Int, overlap: Int): Unit =
    if (overlap >= chunkSize)
      throw new BadRequest(s"overlap must be < chunk_size=$chunkSize, got $overlap")

  /** Per-request retrieval knobs (api/app.py:550-667 exposes the same dials on
    * /query): any of these fields in a query/retrieve body overrides the
    * server-level config for that request only. */
  private def configFor(body: JsonNode): RagConfig = {
    var c = config
    if (body.has("entity_top_k")) c = c.copy(entityTopK = intField(body, "entity_top_k", 1))
    if (body.has("relation_top_k")) c = c.copy(relationTopK = intField(body, "relation_top_k", 1))
    if (body.has("entity_similarity_threshold"))
      c = c.copy(entitySimilarityThreshold = doubleField(body, "entity_similarity_threshold"))
    if (body.has("relation_similarity_threshold"))
      c = c.copy(relationSimilarityThreshold = doubleField(body, "relation_similarity_threshold"))
    if (body.has("expansion_degree"))
      c = c.copy(expansionDegree = intField(body, "expansion_degree", 0))
    if (body.has("relation_number_threshold"))
      c = c.copy(relationNumberThreshold = intField(body, "relation_number_threshold", 1))
    if (body.has("rerank_select")) c = c.copy(rerankSelect = intField(body, "rerank_select", 1))
    if (body.has("top_k")) c = c.copy(finalTopK = intField(body, "top_k", 1))
    if (body.has("metric")) c = c.copy(metric = stringField(body, "metric") match {
      case m @ ("ip" | "l2") => m
      case m => throw new BadRequest(s"metric must be 'ip' or 'l2', got '$m'")
    })
    c
  }

  private def respond(ex: HttpExchange, code: Int, body: JsonNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit = {
    val n = mapper.createObjectNode()
    n.put("error", msg)
    respond(ex, code, n)
  }

  private def readBody(ex: HttpExchange): JsonNode =
    try mapper.readTree(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
    catch {
      case e: JsonProcessingException =>
        throw new BadRequest(s"malformed JSON body: ${e.getOriginalMessage}")
    }

  /** One multipart/form-data part: field name, filename (files only), bytes. */
  private final case class Part(name: String, filename: Option[String],
      data: Array[Byte])

  private def indexOfBytes(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val limit = hay.length - needle.length
    while (i <= limit) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** From-scratch byte-level multipart/form-data split (RFC 7578 shape: the
    * JDK ships no parser and the zero-dependency contract holds). Binary-
    * safe: part payloads are byte-range copies, never string round-trips —
    * a PDF upload must survive untouched. Malformed parts (no header block,
    * no name) are skipped, not errors: the route reports per-FILE failures
    * through the conversion result instead. */
  private def parseMultipart(body: Array[Byte], boundary: String): Seq[Part] = {
    // RFC 2046: the delimiter is CRLF + "--" + boundary at a LINE START — a
    // payload that merely CONTAINS the dash-boundary bytes mid-line must not
    // truncate its part. Only the very first delimiter may omit the leading
    // CRLF (start-of-body is a line start). The CRLF before each delimiter
    // belongs to the delimiter, not the part content.
    val lead = ("\r\n--" + boundary).getBytes(StandardCharsets.ISO_8859_1)
    val bare = ("--" + boundary).getBytes(StandardCharsets.ISO_8859_1)
    val crlfcrlf = "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
    def startsWithAt(at: Int, p: Array[Byte]): Boolean = {
      if (at + p.length > body.length) false
      else {
        var j = 0
        while (j < p.length && body(at + j) == p(j)) j += 1
        j == p.length
      }
    }
    // -> (delimiter start, index just past the boundary bytes), or (-1, -1)
    def findDelim(from: Int): (Int, Int) =
      if (from == 0 && startsWithAt(0, bare)) (0, bare.length)
      else {
        val i = indexOfBytes(body, lead, from)
        if (i < 0) (-1, -1) else (i, i + lead.length)
      }
    val parts = Seq.newBuilder[Part]
    var (at, after) = findDelim(0)
    var done = at < 0
    while (!done) {
      if (after + 1 < body.length && body(after) == '-' && body(after + 1) == '-')
        done = true // terminal '--boundary--'
      else {
        var start = after
        if (start + 1 < body.length && body(start) == '\r' && body(start + 1) == '\n')
          start += 2
        val (nextAt, nextAfter) = findDelim(start)
        if (nextAt < 0) done = true
        else {
          val end = nextAt // the preceding CRLF is the delimiter's, not content
          val hEnd = indexOfBytes(body, crlfcrlf, start)
          if (hEnd >= 0 && hEnd + 4 <= end) {
            val headers = new String(body, start, hEnd - start, StandardCharsets.ISO_8859_1)
            val disp = headers.linesIterator
              .find(_.toLowerCase.startsWith("content-disposition")).getOrElse("")
            // anchored at start-of-header or ';' so name="..." never reads
            // the substring inside filename="..." — RFC 7578 does not
            // mandate parameter order
            def attr(k: String): Option[String] =
              ("(?i)(?:^|;\\s*)" + k + "=\"([^\"]*)\"").r
                .findFirstMatchIn(disp).map(_.group(1))
            attr("name").foreach { nm =>
              parts += Part(nm, attr("filename").filter(_.nonEmpty),
                java.util.Arrays.copyOfRange(body, hEnd + 4, end))
            }
          }
          at = nextAt
          after = nextAfter
        }
      }
    }
    parts.result()
  }

  private def parseTripletArray(node: JsonNode): Seq[Triplet] = {
    val ts = Seq.newBuilder[Triplet]
    val tIt = node.elements()
    while (tIt.hasNext) {
      val t = tIt.next()
      if (t.isArray && t.size() >= 3)
        ts += Triplet(t.get(0).asText(), t.get(1).asText(), t.get(2).asText())
      else if (t.isObject && t.has("subject") && t.has("predicate") &&
          t.has("object")) // the reference's AddDocumentsRequest object form;
        // malformed objects are skipped like short arrays, never an NPE
        ts += Triplet(t.get("subject").asText(), t.get("predicate").asText(),
          t.get("object").asText())
    }
    ts.result()
  }

  /** Accepts BOTH body shapes: the nested route's array of
    * `{id, text, triplets: [[s,p,o],…]}` and the reference's
    * /add_documents object `{documents: [text,…], ids?, triplets?}`
    * (api/app.py:379-421, triplets per-doc as [s,p,o] arrays or
    * {subject,predicate,object} objects). Docs beyond the `ids` array get
    * generated ids — the REFERENCE does the same silent fallback for a short
    * ids array (app.py:403-405 guards `i < len(request.ids)` and otherwise
    * lets a UUID be assigned); ours is the deterministic md5(text), because
    * the engine needs stable ids for upsert/delete and a random UUID would
    * break replay. */
  private def parseDocs(node: JsonNode): Seq[Doc] = {
    val out = Seq.newBuilder[Doc]
    if (node.isObject && node.has("documents")) {
      // checked, not coerced: a text node's size() is 0 and asText() reads
      // a number or an object as text, so either would silently replace the
      // graph with an empty or garbled one
      def array(name: String): Option[JsonNode] = Option(node.get(name)).map { a =>
        if (a.isArray) a else throw new BadRequest(s"$name must be an array, got '${shown(a)}'")
      }
      val docs = array("documents").get
      val ids = array("ids")
      val trip = array("triplets")
      var i = 0
      while (i < docs.size()) {
        val d = docs.get(i)
        if (!d.isTextual)
          throw new BadRequest(s"documents[$i] must be a string, got '${shown(d)}'")
        val text = d.asText()
        val id = ids.filter(a => i < a.size()).map(_.get(i).asText())
          .getOrElse(org.apache.commons.codec.digest.DigestUtils.md5Hex(text))
        val ts = trip.filter(a => i < a.size())
          .map(a => parseTripletArray(a.get(i))).getOrElse(Seq.empty)
        out += Doc(id, text, ts)
        i += 1
      }
    } else {
      if (!node.isArray) throw new BadRequest(
        s"body must be an array of documents or an object with a documents array, got '${shown(node)}'")
      val it = node.elements()
      while (it.hasNext) {
        val d = it.next()
        val triplets =
          if (d.has("triplets")) parseTripletArray(d.get("triplets")) else Seq.empty
        if (!d.hasNonNull("id") || !d.hasNonNull("text"))
          throw new BadRequest(s"each document needs an id and a text, got $d")
        out += Doc(d.get("id").asText(), d.get("text").asText(), triplets)
      }
    }
    out.result()
  }

  private def hitsJson(hits: Seq[graft.model.RetrievalHit]): ArrayNode = {
    val arr = mapper.createArrayNode()
    hits.foreach { h =>
      val n = arr.addObject()
      n.put("id", h.id); n.put("text", h.text)
      n.put("score", h.score); n.put("rank", h.rank)
    }
    arr
  }

  private def resultJson(r: graft.model.QueryResult, withAnswer: Boolean): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("question", r.question)
    if (withAnswer) n.put("answer", r.answer)
    n.set[ObjectNode]("passages", hitsJson(r.passages))
    n.set[ObjectNode]("relations", hitsJson(r.relations))
    val ents = n.putArray("named_entities")
    r.namedEntities.foreach(ents.add)
    val hist = n.putArray("expansion_history")
    r.expansionHistory.foreach { s =>
      val e = hist.addObject()
      e.put("degree", s.degree)
      e.put("entity_count", s.entityCount)
      e.put("relation_count", s.relationCount)
    }
    n.put("eviction_applied", r.evictionApplied)
    n
  }

  server.createContext("/", (ex: HttpExchange) => {
    try {
      val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      // Route-shape aliases for exact reference parity (api/app.py exposes
      // graph-UNSCOPED document/query routes selecting the graph via a
      // `graph_name` query param defaulting to "default", and spells the
      // graph-scoped reads with singular `/graph/{g}/…`): normalize those
      // shapes onto the nested `/graphs/{g}/…` surface, then dispatch once —
      // aliases can never drift from the canonical handlers.
      val norm: Seq[String] = path.toSeq match {
        case Seq("documents", id) => // GET/PUT/DELETE /documents/{id}
          Seq("graphs", queryParams(ex).getOrElse("graph_name", "default"), "documents", id)
        case Seq(verb) if Set("add_documents", "import", "query").contains(verb) =>
          val mapped = if (verb == "add_documents") "documents" else verb
          Seq("graphs", queryParams(ex).getOrElse("graph_name", "default"), mapped)
        case Seq("graph", rest @ _*) => "graphs" +: rest // singular spelling
        case p => p
      }
      (ex.getRequestMethod, norm) match {
        case ("GET", Seq("health")) =>
          val n = mapper.createObjectNode()
          n.put("status", "ok")
          respond(ex, 200, n)
        // Config introspection (api/app.py:321-337 GET /settings): the
        // engine-level knobs the server was built with — retrieval dials
        // from RagConfig, the embedder's dimension (the reference reports
        // embedding_dimension), and the storage root standing in for the
        // reference's milvus_uri/db. Per-request overrides (configFor) are
        // NOT reflected here, matching the reference's app.state.settings.
        case ("GET", Seq("settings")) =>
          val n = mapper.createObjectNode()
          // the embedder the server actually builds/serves graphs with —
          // NOT a fresh default (dim=32 embedders are in active use)
          n.put("embedding_dimension", embedder.dim)
          n.put("store_base", storeBase)
          n.put("metric", config.metric)
          n.put("entity_top_k", config.entityTopK)
          n.put("relation_top_k", config.relationTopK)
          n.put("entity_similarity_threshold", config.entitySimilarityThreshold)
          n.put("relation_similarity_threshold", config.relationSimilarityThreshold)
          n.put("expansion_degree", config.expansionDegree)
          n.put("relation_number_threshold", config.relationNumberThreshold)
          n.put("rerank_select", config.rerankSelect)
          n.put("top_k", config.finalTopK)
          config.annNProbe match {
            case Some(p) => n.put("ann_nprobe", p)
            case None    => n.putNull("ann_nprobe")
          }
          n.put("ann_nlist", config.annNList)
          n.put("lexical_index", config.lexicalIndex)
          respond(ex, 200, n)
        // Graph-unscoped document list/search (api/app.py:786-818
        // GET /documents): `query` → passage vector search over
        // `graph_name` (default "default"); without a query the reference
        // returns the empty "listing is limited" shape — its vector store
        // cannot enumerate efficiently — and so do we, for route parity.
        case ("GET", Seq("documents")) =>
          val params = queryParams(ex)
          val g = params.getOrElse("graph_name", "default")
          val k = positiveParam(ex, "top_k", 10)
          params.get("query").filter(_.nonEmpty) match {
            case None =>
              val n = mapper.createObjectNode()
              n.putArray("documents")
              n.put("total", 0)
              respond(ex, 200, n)
            case Some(q) if !store.listGraphs().contains(g) =>
              error(ex, 404, s"graph $g not found")
            case Some(q) =>
              // a cascade-emptied graph leaves unreadable-empty tables: a
              // search over it finds nothing — not a 500 (same guard as the
              // GET /graphs/{g}/documents/{id} route)
              val hits = try rag(g, config.copy(finalTopK = k)).retrieveNaive(q)
                catch { case _: org.apache.spark.sql.AnalysisException =>
                  Seq.empty[graft.model.RetrievalHit] }
              // adjacency backfill for the reference's DocumentResponse shape
              // (id, text, entity_ids, relation_ids) — bounded: ≤ topK ids
              val adj =
                if (hits.isEmpty) Map.empty[String, (Seq[String], Seq[String])]
                else store.table(g, "passages")
                  .filter(org.apache.spark.sql.functions.col("id")
                    .isin(hits.map(_.id): _*))
                  .select("id", "entity_ids", "relation_ids").collect()
                  .map(r => r.getString(0) -> (r.getSeq[String](1), r.getSeq[String](2)))
                  .toMap
              val n = mapper.createObjectNode()
              val docsArr = n.putArray("documents")
              hits.foreach { h =>
                val d = docsArr.addObject()
                d.put("id", h.id); d.put("text", h.text)
                val (es, rs) = adj.getOrElse(h.id, (Seq.empty[String], Seq.empty[String]))
                val ea = d.putArray("entity_ids"); es.foreach(ea.add)
                val ra = d.putArray("relation_ids"); rs.foreach(ra.add)
              }
              n.put("total", hits.size)
              respond(ex, 200, n)
          }
        case ("GET", Seq("graphs", g, "documents", id)) =>
          // a graph whose passages were all cascade-deleted leaves an empty
          // parquet dir (schema uninferable) — that's "not found", not a 500
          val rows = try store.table(g, "passages")
            .filter(org.apache.spark.sql.functions.col("id") === id)
            .select("id", "text", "entity_ids", "relation_ids").collect()
          catch { case _: org.apache.spark.sql.AnalysisException =>
            Array.empty[org.apache.spark.sql.Row] }
          if (rows.isEmpty) error(ex, 404, s"document $id not found")
          else {
            val r = rows.head
            val n = mapper.createObjectNode()
            n.put("id", r.getString(0)); n.put("text", r.getString(1))
            val es = n.putArray("entity_ids"); r.getSeq[String](2).foreach(es.add)
            val rs = n.putArray("relation_ids"); r.getSeq[String](3).foreach(rs.add)
            respond(ex, 200, n)
          }
        case ("GET", Seq("graphs")) =>
          val arr = mapper.createArrayNode()
          store.listGraphs().foreach(arr.add)
          respond(ex, 200, arr)
        case ("GET", Seq("graphs", g, "stats")) =>
          val n = mapper.createObjectNode()
          store.stats(g).foreach { case (k, v) => n.put(k, v) }
          respond(ex, 200, n)
        case ("GET", Seq("graphs", g, "health")) =>
          // operational snapshot: rows + file counts/bytes per node table
          // (the compaction-trigger read) + derived-index presence
          val n = mapper.createObjectNode()
          store.stats(g).foreach { case (k, v) => n.put(s"${k}_rows", v) }
          Seq("entities", "relations", "passages").foreach { t =>
            val (nf, bytes) = store.tableFileStats(g, t)
            n.put(s"${t}_files", nf)
            n.put(s"${t}_bytes", bytes)
          }
          n.put("ann_entities", store.annIndexExists(g, "entities"))
          n.put("ann_relations", store.annIndexExists(g, "relations"))
          n.put("lex_passages", store.lexIndexExists(g))
          respond(ex, 200, n)
        case ("POST", Seq("graphs", g, "documents")) =>
          val stats = rag(g).addDocumentsWithTriplets(parseDocs(readBody(ex)))
          val n = mapper.createObjectNode()
          stats.foreach { case (k, v) => n.put(k, v) }
          respond(ex, 200, n)
        // POST /upload (api/app.py:476-548): multipart file upload → S2
        // convert (PDF/DOCX via DocConverter, TXT/MD passthrough, HTML via
        // HtmlExtract) → T1 chunk → the same full-replace indexing path as
        // /import. Conversion runs driver-side because uploads are request-
        // sized by nature; corpus-scale binary ingest is the distributed
        // DocConverter.convertBinaryFrame surface. Response mirrors the
        // reference's ImportResponse (success, num_* counts, errors[]), and
        // per-file conversion failures land in errors[] without failing the
        // batch — the reference's load_result.errors contract.
        case ("POST", Seq("upload")) =>
          val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          val bnd = "(?i)boundary=\"?([^\";,]+)\"?".r.findFirstMatchIn(ct).map(_.group(1))
          if (!ct.toLowerCase.startsWith("multipart/form-data") || bnd.isEmpty)
            error(ex, 400, "expected multipart/form-data with a boundary")
          else {
            val parts = parseMultipart(ex.getRequestBody.readAllBytes(), bnd.get)
            val form = parts.filter(_.filename.isEmpty)
              .map(p => p.name -> new String(p.data, StandardCharsets.UTF_8)).toMap
            val files = parts.filter(_.filename.nonEmpty)
            val chunkDocs = form.get("chunk_documents")
              .forall(v => Set("true", "True", "1").contains(v))
            val chunkSize = form.get("chunk_size").fold(1000)(intAtLeast("chunk_size", _, 1))
            val overlap = form.get("chunk_overlap").fold(200)(intAtLeast("chunk_overlap", _, 0))
            if (chunkDocs) checkOverlap(chunkSize, overlap)
            val g = form.get("graph_name")
              .orElse(queryParams(ex).get("graph_name")).getOrElse("default")
            val converted: Seq[Either[String, (String, String)]] = files.map { f =>
              val nm = f.filename.get
              val lower = nm.toLowerCase
              if (lower.endsWith(".txt") || lower.endsWith(".md"))
                Right(nm -> new String(f.data, StandardCharsets.UTF_8))
              else if (lower.endsWith(".html") || lower.endsWith(".htm"))
                graft.sources.HtmlExtract
                  .toMarkdown(new String(f.data, StandardCharsets.UTF_8))
                  .map(nm -> _)
                  .toRight(s"Failed to convert $nm: no extractable text")
              else graft.sources.DocConverter.convertBytes(nm, f.data)
                .map(d => nm -> d.text)
                .left.map(e => s"Failed to convert $nm: $e")
            }
            val docs = converted.collect { case Right(d) => d }
            val errs = converted.collect { case Left(e) => e }
            val n = mapper.createObjectNode()
            val errArr = mapper.createArrayNode()
            errs.foreach(errArr.add)
            if (docs.isEmpty) {
              if (errs.isEmpty) errArr.add("No documents loaded")
              n.put("success", false)
              n.put("num_sources", files.size)
              n.put("num_documents", 0)
              n.put("num_chunks", 0)
              n.put("num_entities", 0)
              n.put("num_relations", 0)
              n.set("errors", errArr)
              respond(ex, 200, n)
            } else {
              val docsDf0 = spark.createDataFrame(docs).toDF("id", "text")
              val docsDf =
                if (chunkDocs)
                  graft.operators.Chunker
                    .chunkDocuments(docsDf0, "id", "text", chunkSize, overlap)
                    .select(
                      org.apache.spark.sql.functions.concat_ws("#",
                        org.apache.spark.sql.functions.col("id"),
                        org.apache.spark.sql.functions.col("chunk_index")).as("id"),
                      org.apache.spark.sql.functions.col("chunk").as("text"))
                else docsDf0
              // Pinned: counted for the response AND re-read by the build —
              // an unpinned plan would run the converter+chunker job twice.
              val docsDfP = docsDf.localCheckpoint(true)
              val nChunks = docsDfP.count()
              val stats = rag(g).addDocumentsDf(docsDfP)
              n.put("success", true)
              n.put("num_sources", files.size)
              n.put("num_documents", docs.size)
              n.put("num_chunks", nChunks)
              n.put("num_entities", stats.getOrElse("entities", 0L))
              n.put("num_relations", stats.getOrElse("relations", 0L))
              n.set("errors", errArr)
              respond(ex, 200, n)
            }
          }
        case ("POST", Seq("graphs", g, "import")) =>
          val body = readBody(ex)
          val chunkSize = if (body.has("chunk_size")) intField(body, "chunk_size", 1) else 1000
          val overlap = if (body.has("overlap")) intField(body, "overlap", 0) else 200
          checkOverlap(chunkSize, overlap)
          // Fully distributed: file scan → chunker → extractor → build, one DAG.
          val docsDf = graft.sources.Ingest.importTextDf(
            spark, stringField(body, "path"), chunkSize, overlap)
          val stats = rag(g).addDocumentsDf(docsDf)
          val n = mapper.createObjectNode()
          stats.foreach { case (k, v) => n.put(k, v) }
          respond(ex, 200, n)
        case ("GET", Seq("graphs", g, "neighbors", id)) =>
          val r = rag(g).neighbors(id, positiveParam(ex, "limit", 50))
          if (r.entity.isEmpty) error(ex, 404, s"entity $id not found")
          else {
            val n = mapper.createObjectNode()
            val e = n.putObject("entity")
            e.put("id", r.entity.get.id); e.put("name", r.entity.get.name)
            n.set[ObjectNode]("relations", hitsJson(r.relations))
            val nb = n.putArray("neighbors")
            r.neighbors.foreach { v =>
              val o = nb.addObject(); o.put("id", v.id); o.put("name", v.name)
            }
            respond(ex, 200, n)
          }
        case ("PUT", Seq("graphs", g, "documents", id)) =>
          if (rag(g).updatePassage(id, stringField(readBody(ex), "text"))) {
            val n = mapper.createObjectNode()
            n.put("updated", id)
            respond(ex, 200, n)
          } else error(ex, 404, s"document $id not found")
        case ("DELETE", Seq("graphs", g, "documents", id)) =>
          // 404 on unknown ids (api/app.py:822-874 — delete_passage returns
          // False); the existence probe also skips the cascade rewrites.
          if (rag(g).deletePassage(id)) {
            val n = mapper.createObjectNode()
            n.put("deleted", id)
            respond(ex, 200, n)
          } else error(ex, 404, s"document $id not found")
        case ("DELETE", Seq("graphs", g, "relations", id)) =>
          if (rag(g).deleteRelation(id)) {
            val n = mapper.createObjectNode()
            n.put("deleted", id)
            respond(ex, 200, n)
          } else error(ex, 404, s"relation $id not found")
        case ("POST", Seq("graphs", g, "query")) =>
          val body = readBody(ex)
          val q = stringField(body, "question")
          respond(ex, 200, resultJson(rag(g, configFor(body)).query(q), withAnswer = true))
        case ("POST", Seq("graphs", g, "retrieve")) =>
          val body = readBody(ex)
          val q = stringField(body, "question")
          respond(ex, 200, resultJson(rag(g, configFor(body)).retrieve(q), withAnswer = false))
        case ("POST", Seq("graphs", g, "retrieve_naive")) =>
          // R6 naive RAG (retriever.py:367-385; api/app.py's mode="naive" path)
          val body = readBody(ex)
          val q = stringField(body, "question")
          val hits = rag(g, configFor(body)).retrieveNaive(q)
          val n = mapper.createObjectNode()
          n.put("question", q)
          n.set[ObjectNode]("passages", hitsJson(hits))
          respond(ex, 200, n)
        case ("POST", Seq("graphs", g, "retrieve_hybrid")) =>
          // dense KNN + BM25 fused by RRF (the engine's hybrid extension)
          val body = readBody(ex)
          val q = stringField(body, "question")
          val hits = rag(g, configFor(body)).retrieveHybrid(q)
          val n = mapper.createObjectNode()
          n.put("question", q)
          n.set[ObjectNode]("passages", hitsJson(hits))
          respond(ex, 200, n)
        case ("POST", Seq("graphs", g, "retrieve_diverse")) =>
          // dense KNN reranked by MMR (diversity over near-duplicate passages);
          // optional body field `lambda` trades relevance vs diversity
          val body = readBody(ex)
          val q = stringField(body, "question")
          val lambda =
            if (body.has("lambda")) doubleField(body, "lambda") else 0.5
          val hits = rag(g, configFor(body)).retrieveDiverse(q, lambda)
          val n = mapper.createObjectNode()
          n.put("question", q)
          n.set[ObjectNode]("passages", hitsJson(hits))
          respond(ex, 200, n)
        case ("GET", Seq("graphs", g, "importance")) =>
          // structural entity importance (PageRank over subject↔object edges);
          // ?seeds=name1,name2 switches to the personalized variant (teleport
          // to the seeds — importance relative to a query's entity hits)
          val limit = positiveParam(ex, "limit", 20)
          val seeds = queryParams(ex).get("seeds").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          val imp = if (seeds.isEmpty) rag(g).entityImportance()
            else rag(g).entityImportanceFrom(seeds)
          val rows = imp.limit(limit).collect()
          val arr = mapper.createArrayNode()
          rows.foreach { r =>
            val o = arr.addObject()
            o.put("id", r.getString(0))
            o.put("name", r.getString(1))
            o.put("pr", r.getDouble(2))
          }
          val n = mapper.createObjectNode()
          n.set[ObjectNode]("entities", arr)
          respond(ex, 200, n)
        case ("POST", Seq("graphs", g, "match_entities")) =>
          // typo-tolerant entity lookup (FuzzyMatch over normalized names)
          val body = readBody(ex)
          val names = body.get("names")
          if (names == null || !names.isArray)
            throw new BadRequest(s"names must be an array, got '${shown(names)}'")
          val probes = {
            val it = names.elements()
            val b = Seq.newBuilder[String]
            while (it.hasNext) b += it.next().asText()
            b.result()
          }
          val maxDist = if (body.has("max_dist")) intField(body, "max_dist", 0) else 2
          val k = if (body.has("top_k")) intField(body, "top_k", 1) else 3
          val hits = rag(g).matchEntities(probes, maxDist, k)
          val arr = mapper.createArrayNode()
          hits.foreach { h =>
            val o = arr.addObject()
            o.put("id", h.id)
            o.put("name", h.text)
            o.put("dist", -h.score.toInt)
            o.put("rank", h.rank)
          }
          val n = mapper.createObjectNode()
          n.set[ObjectNode]("matches", arr)
          respond(ex, 200, n)
        case ("DELETE", Seq("graphs", g)) =>
          store.dropGraph(g)
          val n = mapper.createObjectNode()
          n.put("deleted", g)
          respond(ex, 200, n)
        case _ => error(ex, 404, s"no route ${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
      }
    } catch {
      case e: BadRequest => error(ex, 400, e.getMessage)
      case e: Throwable => error(ex, 500, String.valueOf(e.getMessage))
    }
  })

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
}
