package graft

import graft.api.RestServer
import graft.rag.RagConfig
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** Drives the REST façade over a real socket: index → list → stats → query →
  * retrieve → delete (the reference's api/app.py surface). */
class RestServerSpec extends SparkSpec {

  private lazy val server = {
    val s = new RestServer(spark, Files.createTempDirectory("reststore").toString,
      RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3))
    s.start(); s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def delete(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  test("full REST lifecycle: documents -> stats -> query -> delete") {
    val docs =
      """[
        |{"id": "einstein", "text": "Albert Einstein\nEinstein published relativity in 1905.",
        | "triplets": [["Albert Einstein", "published", "theory of relativity"]]},
        |{"id": "curie", "text": "Marie Curie\nCurie discovered radium.",
        | "triplets": [["Marie Curie", "discovered", "radium"]]}
        |]""".stripMargin
    val ins = post("/graphs/resttest/documents", docs)
    assert(ins.statusCode() == 200, ins.body())
    assert(ins.body().contains("\"passages\":2"))

    assert(get("/graphs").body().contains("resttest"))
    val stats = get("/graphs/resttest/stats")
    assert(stats.body().contains("\"entities\":4"), stats.body())

    val q = post("/graphs/resttest/query",
      """{"question": "Who discovered radium?"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains("\"answer\""))
    assert(q.body().contains("curie"), q.body())

    val r = post("/graphs/resttest/retrieve",
      """{"question": "Who published relativity?"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("einstein"), r.body())
    assert(r.body().contains("\"expansion_history\""))

    assert(delete("/graphs/resttest").statusCode() == 200)
    assert(!get("/graphs").body().contains("resttest"))
  }

  private def put(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("import, neighbors, and document/relation CRUD routes") {
    val dir = Files.createTempDirectory("restimport")
    Files.writeString(dir.resolve("curie.txt"),
      "Marie Curie discovered radium and polonium in Paris.")
    Files.writeString(dir.resolve("einstein.txt"),
      "Albert Einstein published the theory of relativity in Bern.")
    val imp = post("/graphs/rest2/import",
      s"""{"path": "${dir.toString}/*.txt", "chunk_size": 300, "overlap": 50}""")
    assert(imp.statusCode() == 200, imp.body())
    assert(imp.body().contains("\"passages\":2"), imp.body())

    // neighbors: entity ids are md5(normalized name) (SURVEY §7.1)
    val marieId = org.apache.commons.codec.digest.DigestUtils.md5Hex("marie")
    val nb = get(s"/graphs/rest2/neighbors/$marieId")
    assert(nb.statusCode() == 200, nb.body())
    assert(nb.body().contains("\"name\":\"marie\""), nb.body())
    assert(nb.body().contains("marie curie discovered"), nb.body())
    assert(get("/graphs/rest2/neighbors/doesnotexist").statusCode() == 404)

    assert(get("/health").body().contains("ok"))
    val doc = get("/graphs/rest2/documents/curie.txt%230")
    assert(doc.statusCode() == 200, doc.body())
    assert(doc.body().contains("\"entity_ids\""), doc.body())
    assert(get("/graphs/rest2/documents/nope").statusCode() == 404)

    // malformed limit is a 400, not a 500
    assert(get(s"/graphs/rest2/neighbors/$marieId?limit=abc").statusCode() == 400)
    assert(get(s"/graphs/rest2/neighbors/$marieId?limit=-1").statusCode() == 400)
    // so is an update body without a string text
    assert(put("/graphs/rest2/documents/curie.txt%230", "{}").statusCode() == 400)

    // document update ('#' in chunk ids is %23 on the wire)
    val upd = put("/graphs/rest2/documents/curie.txt%230",
      """{"text": "radioactivity pioneer"}""")
    assert(upd.statusCode() == 200, upd.body())
    assert(get("/graphs/rest2/stats").body().contains("\"passages\":2"))
    // updating an unknown document is a 404 and inserts nothing
    assert(put("/graphs/rest2/documents/ghost", """{"text": "x"}""").statusCode() == 404)
    assert(get("/graphs/rest2/stats").body().contains("\"passages\":2"))

    // relation cascade via REST: grab a relation id from the neighbors payload
    val relId = "\"relations\":\\[\\{\"id\":\"([0-9a-f]{32})\"".r
      .findFirstMatchIn(nb.body()).get.group(1)
    assert(delete(s"/graphs/rest2/relations/$relId").statusCode() == 200)
    val nb2 = get(s"/graphs/rest2/neighbors/$marieId")
    assert(!nb2.body().contains(relId), nb2.body())

    // deleting unknown ids is a 404 (api/app.py:822-874) and runs no cascade
    assert(delete("/graphs/rest2/documents/ghost").statusCode() == 404)
    assert(delete("/graphs/rest2/relations/ffffffffffffffffffffffffffffffff")
      .statusCode() == 404)
    assert(get("/graphs/rest2/stats").body().contains("\"passages\":2"))

    // document delete with cascade
    assert(delete("/graphs/rest2/documents/curie.txt%230").statusCode() == 200)
    assert(get("/graphs/rest2/stats").body().contains("\"passages\":1"))
  }

  test("naive retrieval route and per-request config overrides") {
    val docs =
      """[
        |{"id": "d1", "text": "Isaac Newton\nNewton formulated gravity.",
        | "triplets": [["Isaac Newton", "formulated", "gravity"]]},
        |{"id": "d2", "text": "Ada Lovelace\nLovelace wrote the first program.",
        | "triplets": [["Ada Lovelace", "wrote", "first program"]]},
        |{"id": "d3", "text": "Alan Turing\nTuring broke Enigma.",
        | "triplets": [["Alan Turing", "broke", "Enigma"]]}
        |]""".stripMargin
    assert(post("/graphs/rest4/documents", docs).statusCode() == 200)

    // naive mode: passage KNN only (R6)
    val naive = post("/graphs/rest4/retrieve_naive",
      """{"question": "Who formulated gravity?"}""")
    assert(naive.statusCode() == 200, naive.body())
    assert(naive.body().contains("d1"), naive.body())
    assert(!naive.body().contains("expansion_history"), "naive must skip the graph path")

    // top_k override bounds the result set per request
    val one = post("/graphs/rest4/retrieve_naive",
      """{"question": "Who formulated gravity?", "top_k": 1}""")
    val passages = "\"id\"".r.findAllIn(one.body()).size
    assert(passages == 1, one.body())

    // graph retrieve honors overrides too: top_k=1 yields one passage
    val r1 = post("/graphs/rest4/retrieve",
      """{"question": "Who broke Enigma?", "top_k": 1, "expansion_degree": 2}""")
    assert(r1.statusCode() == 200, r1.body())
    val r1Passages = "\\{\"id\":\"d\\d\"".r.findAllIn(r1.body()).size
    assert(r1Passages == 1 && r1.body().contains("d3"), r1.body())

    // hybrid mode: dense + BM25 fused by RRF; lexical term "enigma" pins d3
    val hybrid = post("/graphs/rest4/retrieve_hybrid",
      """{"question": "who broke the enigma machine", "top_k": 2}""")
    assert(hybrid.statusCode() == 200, hybrid.body())
    assert(hybrid.body().contains("d3"), hybrid.body())
    val hybridPassages = "\"rank\"".r.findAllIn(hybrid.body()).size
    assert(hybridPassages == 2, hybrid.body())

    val health = get("/graphs/rest4/health")
    assert(health.statusCode() == 200, health.body())
    assert(health.body().contains("passages_rows") &&
      health.body().contains("passages_files") &&
      health.body().contains("lex_passages"), health.body())

    val diverse = post("/graphs/rest4/retrieve_diverse",
      """{"question": "who broke the enigma machine", "top_k": 2, "lambda": 0.5}""")
    assert(diverse.statusCode() == 200, diverse.body())
    assert("\"rank\"".r.findAllIn(diverse.body()).size == 2, diverse.body())
  }

  test("malformed integer knobs in a query/retrieve body are a 400") {
    val docs =
      """[{"id": "k1", "text": "Marie Curie\nCurie discovered polonium.",
        | "triplets": [["Marie Curie", "discovered", "polonium"]]}]""".stripMargin
    assert(post("/graphs/rest9/documents", docs).statusCode() == 200)
    val bad = Seq(
      "top_k" -> "\"abc\"", "top_k" -> "-1", "top_k" -> "0", "top_k" -> "1.5",
      "entity_top_k" -> "0", "relation_top_k" -> "\"x\"", "rerank_select" -> "-3",
      "relation_number_threshold" -> "0", "expansion_degree" -> "-1",
      "expansion_degree" -> "null", "top_k" -> "99999999999",
      "entity_similarity_threshold" -> "\"abc\"", "relation_similarity_threshold" -> "true",
      "entity_similarity_threshold" -> "\"NaN\"", "metric" -> "\"cosine\"", "metric" -> "5")
    for ((field, value) <- bad; route <- Seq("query", "retrieve")) {
      val r = post(s"/graphs/rest9/$route",
        s"""{"question": "Who discovered polonium?", "$field": $value}""")
      assert(r.statusCode() == 400, s"$route $field=$value: ${r.body()}")
      assert(r.body().contains(field), r.body())
    }
    // a missing or non-string question is a 400 on every question route
    for (route <- Seq("query", "retrieve", "retrieve_naive", "retrieve_hybrid",
        "retrieve_diverse"); body <- Seq("{}", """{"question": 5}""")) {
      val r = post(s"/graphs/rest9/$route", body)
      assert(r.statusCode() == 400, s"$route $body: ${r.body()}")
      assert(r.body().contains("question"), r.body())
    }
    val badLambda = post("/graphs/rest9/retrieve_diverse",
      """{"question": "Who discovered polonium?", "lambda": "abc"}""")
    assert(badLambda.statusCode() == 400 && badLambda.body().contains("lambda"),
      badLambda.body())
    // import, match_entities and document bodies are checked the same way
    for ((route, body, field) <- Seq(
        ("import", """{"path": "/nonexistent", "chunk_size": "abc"}""", "chunk_size"),
        ("import", """{"path": "/nonexistent", "overlap": "abc"}""", "overlap"),
        ("import", """{"path": "/nonexistent", "chunk_size": 100}""", "overlap"),
        ("import", """{"chunk_size": 100, "overlap": 10}""", "path"),
        ("match_entities", """{"names": ["curie"], "max_dist": "abc"}""", "max_dist"),
        ("match_entities", """{"names": ["curie"], "top_k": "abc"}""", "top_k"),
        ("match_entities", """{"top_k": 1}""", "names"),
        ("documents", """[{"id": "k2"}]""", "text"))) {
      val r = post(s"/graphs/rest9/$route", body)
      assert(r.statusCode() == 400, s"$route $body: ${r.body()}")
      assert(r.body().contains(field), r.body())
    }
    // boundary values and integer strings are accepted
    val ok = post("/graphs/rest9/retrieve",
      """{"question": "Who discovered polonium?", "top_k": "1", "expansion_degree": 0}""")
    assert(ok.statusCode() == 200, ok.body())
    assert(ok.body().contains("k1"), ok.body())
    // so are numeric strings for the thresholds, and both metrics
    for (knobs <- Seq(""""entity_similarity_threshold": "0.5"""", """"metric": "l2"""",
        """"metric": "ip"""")) {
      val r = post("/graphs/rest9/retrieve",
        s"""{"question": "Who discovered polonium?", $knobs}""")
      assert(r.statusCode() == 200, s"$knobs: ${r.body()}")
    }
  }

  test("GET /documents: list/search route parity (api/app.py:786-818)") {
    val docs =
      """[
        |{"id": "kepler", "text": "Johannes Kepler\nKepler stated the laws of planetary motion.",
        | "triplets": [["Johannes Kepler", "stated", "planetary motion laws"]]},
        |{"id": "brahe", "text": "Tycho Brahe\nBrahe recorded precise astronomical observations.",
        | "triplets": [["Tycho Brahe", "recorded", "observations"]]}
        |]""".stripMargin
    assert(post("/graphs/rest6/documents", docs).statusCode() == 200)

    // with a query: passage vector search, DocumentResponse shape
    val hit = get("/documents?graph_name=rest6&query=planetary%20motion%20laws&top_k=1")
    assert(hit.statusCode() == 200, hit.body())
    assert(hit.body().contains("\"kepler\""), hit.body())
    assert(hit.body().contains("\"entity_ids\"") && hit.body().contains("\"relation_ids\""),
      hit.body())
    assert(hit.body().contains("\"total\":1"), hit.body())

    // no query: the reference's "listing is limited" empty shape
    val empty = get("/documents?graph_name=rest6")
    assert(empty.statusCode() == 200, empty.body())
    assert(empty.body().contains("\"documents\":[]") && empty.body().contains("\"total\":0"),
      empty.body())

    // unknown graph with a query is a 404; malformed top_k is a 400
    assert(get("/documents?graph_name=ghost&query=x").statusCode() == 404)
    assert(get("/documents?graph_name=rest6&query=x&top_k=abc").statusCode() == 400)
    assert(get("/documents?graph_name=rest6&query=x&top_k=0").statusCode() == 400)
  }

  test("reference-shaped route aliases: graph-unscoped documents, /add_documents, /query") {
    // the reference's AddDocumentsRequest object body (app.py:379-421):
    // texts + ids + per-doc triplets as [s,p,o] arrays
    val ins = post("/add_documents?graph_name=rest7",
      """{"documents": ["Grace Hopper\nHopper wrote the first compiler."],
        | "ids": ["hopper"],
        | "triplets": [[["Grace Hopper", "wrote", "first compiler"]]]}""".stripMargin)
    assert(ins.statusCode() == 200, ins.body())
    assert(ins.body().contains("\"passages\":1"), ins.body())

    // graph-unscoped reads/writes with ?graph_name (app.py:765/820/854)
    val doc = get("/documents/hopper?graph_name=rest7")
    assert(doc.statusCode() == 200, doc.body())
    assert(doc.body().contains("first compiler"), doc.body())
    // no graph_name → the "default" graph, which doesn't exist here
    assert(get("/documents/hopper").statusCode() != 200)

    // singular /graph/{g}/stats spelling (app.py:671)
    val st = get("/graph/rest7/stats")
    assert(st.statusCode() == 200 && st.body().contains("\"passages\":1"), st.body())

    // graph-unscoped /query (app.py:550)
    val q = post("/query?graph_name=rest7",
      """{"question": "Who wrote the first compiler?"}""")
    assert(q.statusCode() == 200 && q.body().contains("hopper"), q.body())

    val upd = put("/documents/hopper?graph_name=rest7", """{"text": "compiler pioneer"}""")
    assert(upd.statusCode() == 200, upd.body())
    assert(delete("/documents/hopper?graph_name=rest7").statusCode() == 200)
    assert(get("/documents/hopper?graph_name=rest7").statusCode() == 404)
    assert(delete("/graph/rest7").statusCode() == 200) // singular delete (app.py:339)
    assert(!get("/graphs").body().contains("rest7"))
  }

  test("/add_documents: a body, documents, ids or triplets value of the wrong shape is a 400") {
    val docs =
      """[
        |{"id": "rome", "text": "Rome\nRome is the capital of Italy.",
        | "triplets": [["Rome", "capital of", "Italy"]]},
        |{"id": "paris", "text": "Paris\nParis is the capital of France.",
        | "triplets": [["Paris", "capital of", "France"]]}
        |]""".stripMargin
    assert(post("/graphs/rest10/documents", docs).statusCode() == 200)
    val before = get("/graphs/rest10/stats").body()
    assert(before.contains("\"entities\":4"), before)
    // each body would otherwise index an empty or garbled graph over rest10
    for (body <- Seq("""{"documents": "Rome is in Italy"}""",
        """{"documents": null}""", """{"documents": ["Rome", 7]}""",
        """{"documents": [{"text": "Rome"}]}""",
        """{"documents": ["Rome"], "ids": "rome"}""",
        """{"documents": ["Rome"], "triplets": {"s": "Rome"}}""")) {
      val r = post("/add_documents?graph_name=rest10", body)
      assert(r.statusCode() == 400, s"$body: ${r.body()}")
      assert(get("/graphs/rest10/stats").body() == before, body)
    }
    // the array route's body is an array: an object or a string is no
    // document list, not an empty one
    for (body <- Seq("{}", "\"Rome is in Italy\"")) {
      val r = post("/graphs/rest10/documents", body)
      assert(r.statusCode() == 400, s"$body: ${r.body()}")
      assert(get("/graphs/rest10/stats").body() == before, body)
    }
    assert(delete("/graphs/rest10").statusCode() == 200)
  }

  test("re-indexing a graph serves fresh rows to later queries (cache lifecycle)") {
    val docs1 =
      """[{"id": "pasteur", "text": "Louis Pasteur\nPasteur proved germ theory.",
        | "triplets": [["Louis Pasteur", "proved", "germ theory"]]}]""".stripMargin
    assert(post("/graphs/rest3/documents", docs1).statusCode() == 200)
    val q1 = post("/graphs/rest3/retrieve", """{"question": "Who proved germ theory?"}""")
    assert(q1.body().contains("pasteur"), q1.body())

    // full re-index with unrelated content: the cached copies must not leak
    // the old graph into new answers
    val docs2 =
      """[{"id": "darwin", "text": "Charles Darwin\nDarwin proposed evolution.",
        | "triplets": [["Charles Darwin", "proposed", "evolution"]]}]""".stripMargin
    assert(post("/graphs/rest3/documents", docs2).statusCode() == 200)
    assert(get("/graphs/rest3/stats").body().contains("\"passages\":1"))
    val q2 = post("/graphs/rest3/retrieve", """{"question": "Who proposed evolution?"}""")
    assert(q2.body().contains("darwin"), q2.body())
    assert(!q2.body().contains("pasteur"), q2.body())
  }

  test("importance and fuzzy entity-match routes") {
    val docs =
      """[
        |{"id": "curie", "text": "Marie Curie\nCurie discovered radium and polonium.",
        | "triplets": [["Marie Curie", "discovered", "radium"],
        |              ["Marie Curie", "discovered", "polonium"]]}
        |]""".stripMargin
    assert(post("/graphs/rest5/documents", docs).statusCode() == 200)

    assert(get("/graphs/rest5/importance?limit=abc").statusCode() == 400)
    val imp = get("/graphs/rest5/importance?limit=2")
    assert(imp.statusCode() == 200, imp.body())
    // the hub (curie, degree 2) must lead the centrality list
    assert(imp.body().indexOf("marie curie") >= 0)
    assert(imp.body().indexOf("marie curie") < math.max(
      imp.body().indexOf("radium").max(imp.body().length),
      imp.body().indexOf("polonium").max(imp.body().length)), imp.body())

    // personalized variant: seeded at radium, the symmetric far leaf
    // (polonium, 2 hops) must rank strictly below radium — under global PR
    // the two leaves TIE by symmetry, so the gap is the personalization.
    // (The hub still outranks the degree-1 seed: it receives all of the
    // seed's pushed mass — correct PPR behavior, pinned by the ordering.)
    val pimp = get("/graphs/rest5/importance?limit=3&seeds=radium")
    assert(pimp.statusCode() == 200, pimp.body())
    assert(pimp.body().indexOf("radium") >= 0 &&
      pimp.body().indexOf("radium") < pimp.body().indexOf("polonium"), pimp.body())

    val m = post("/graphs/rest5/match_entities",
      """{"names": ["Marei Curie", "radium"], "max_dist": 2, "top_k": 1}""")
    assert(m.statusCode() == 200, m.body())
    assert(m.body().contains("marie curie"), m.body())
    assert(m.body().contains("\"dist\":0"), m.body()) // exact radium hit
  }

  test("/settings returns the config the server was built with") {
    val r = get("/settings")
    assert(r.statusCode() == 200, r.body())
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    // the two non-default knobs this spec's server was constructed with
    assert(n.get("entity_similarity_threshold").asDouble() == 0.5, r.body())
    assert(n.get("top_k").asInt() == 3, r.body())
    // defaults + engine facts ride along
    assert(n.get("metric").asText() == "ip")
    assert(n.get("embedding_dimension").asInt() == 64)
    assert(n.get("ann_nprobe").isNull)
    assert(n.get("store_base").asText().nonEmpty)

    // embedding_dimension reports the embedder the server was BUILT with,
    // not a fresh default (dim=32 embedders are in active use elsewhere)
    val s32 = new RestServer(spark, Files.createTempDirectory("rest32").toString,
      RagConfig(), embedder = graft.functions.HashEmbedder(32))
    s32.start()
    try {
      val r32 = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s32.boundPort}/settings")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val n32 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r32.body())
      assert(n32.get("embedding_dimension").asInt() == 32, r32.body())
    } finally s32.stop()
  }

  test("unknown route gives a JSON 404; malformed body gives JSON 400") {
    assert(get("/nope").statusCode() == 404)
    for (route <- Seq("/graphs/g/query", "/graphs/g/retrieve", "/graphs/g/import")) {
      val bad = post(route, "{not json")
      assert(bad.statusCode() == 400, s"$route: ${bad.body()}")
      assert(bad.body().contains("malformed JSON body"), bad.body())
    }
  }

  test("POST /upload: multipart DOCX+TXT converts, chunks, indexes; bad file -> errors[]") {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    import java.util.zip.{ZipEntry, ZipOutputStream}
    // in-memory DOCX fixture (the ConverterSpec shape: one body paragraph)
    val docXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |<w:body><w:p><w:r><w:t>Uploaded report about spark joins.</w:t></w:r></w:p>
        |</w:body></w:document>""".stripMargin
    val zbos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(zbos)
    z.putNextEntry(new ZipEntry("word/document.xml"))
    z.write(docXml.getBytes(UTF_8)); z.closeEntry(); z.close()
    val docx = zbos.toByteArray

    val boundary = "graftBoundary42"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes(ISO_8859_1))
    def filePart(name: String, bytes: Array[Byte]): Unit = {
      w(s"--$boundary\r\n")
      w(s"""Content-Disposition: form-data; name="files"; filename="$name"\r\n""")
      w("Content-Type: application/octet-stream\r\n\r\n")
      bos.write(bytes); w("\r\n")
    }
    def field(name: String, value: String): Unit = {
      w(s"--$boundary\r\n")
      w(s"""Content-Disposition: form-data; name="$name"\r\n\r\n""")
      w(value); w("\r\n")
    }
    filePart("fixture.docx", docx)
    filePart("note.txt", "A note mentioning kepler and planetary motion.".getBytes(UTF_8))
    filePart("broken.pdf", "not really a pdf".getBytes(UTF_8)) // -> errors[]
    field("graph_name", "upg")
    field("chunk_size", "1000")
    w(s"--$boundary--\r\n")

    val resp = client.send(HttpRequest.newBuilder(URI.create(base + "/upload"))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.body())
    assert(n.get("success").asBoolean(), resp.body())
    assert(n.get("num_sources").asInt() == 3, resp.body())
    assert(n.get("num_documents").asInt() == 2, resp.body()) // broken.pdf dropped
    assert(n.get("num_chunks").asInt() >= 2, resp.body())
    assert(n.get("errors").size() == 1 &&
      n.get("errors").get(0).asText().contains("broken.pdf"), resp.body())
    assert(n.get("num_entities").asInt() > 0, resp.body())

    // round-trip: the uploaded DOCX chunk is retrievable from the graph
    val hit = get("/documents?graph_name=upg&query=spark%20joins%20report&top_k=2")
    assert(hit.statusCode() == 200, hit.body())
    assert(hit.body().contains("fixture.docx#0"), hit.body())
    assert(hit.body().contains("spark joins"), hit.body())

    // non-multipart body is a 400, not a parse crash
    val bad = client.send(HttpRequest.newBuilder(URI.create(base + "/upload"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(bad.statusCode() == 400, bad.body())

    // chunking knobs are checked: non-integer, and overlap >= chunk size
    for ((knobs, named) <- Seq(Seq("chunk_size" -> "abc") -> "chunk_size",
        Seq("chunk_overlap" -> "x") -> "chunk_overlap", Seq("chunk_size" -> "100") -> "overlap")) {
      bos.reset()
      filePart("note.txt", "A note mentioning kepler.".getBytes(UTF_8))
      field("graph_name", "upbad")
      knobs.foreach { case (k, v) => field(k, v) }
      w(s"--$boundary--\r\n")
      val r = client.send(HttpRequest.newBuilder(URI.create(base + "/upload"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 400 && r.body().contains(named), s"$knobs: ${r.body()}")
    }
  }
}
