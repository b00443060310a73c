package graft.pipeline

/** The contract every live-NLP model seam shares — [[DepParser]] and
  * [[SentenceAnnotator]] both extend it.
  *
  * The reference calls each model once per slice process: DDParser loaded
  * IN-PROCESS (dudepparse.py:1851,1899) and a CoreNLP SERVER through a
  * socket client with an endpoint and a timeout (main_ner.py:76-82).
  * Neither model ships with the engine, so each seam's default is a
  * deterministic fixture — but the
  * INTEGRATION SHAPE is concrete and testable (one loop drives both,
  * `Pipeline.batched`):
  *
  *  - one connection per PARTITION: `open()` runs before the first
  *    batch, `close()` is registered on the task-completion listener so
  *    it runs even when the task fails — the `mapPartitions` analogue of
  *    the reference's model-per-slice-process;
  *  - bounded request BATCHES (`batchSize` sentences per model call),
  *    results aligned index-wise — a misaligned reply fails loudly
  *    instead of attaching results to the wrong sentences;
  *  - implementations must be Serializable (the instance is shipped to
  *    executors); live connections belong in `@transient` state created
  *    by `open()`.
  */
trait ModelConnection extends Serializable {
  /** open the per-partition connection; called once before any batch. */
  def open(): Unit = ()
  /** release the per-partition connection; runs on task completion
    * (success or failure) — must be idempotent. */
  def close(): Unit = ()
}

/** the one HTTP exchange behind both remote model clients
  * ([[HttpDepParser]], [[HttpSentenceAnnotator]]): POST
  * `{"sentences": [...]}`, require HTTP 200, and return the reply's
  * `field` array after checking it holds one element per sentence.
  *
  * One JVM-wide `java.net.http.HttpClient` (thread-safe per the JDK
  * contract): a client instance is deserialized per TASK, and JDK 17's
  * HttpClient has no close(), so a client per task would accumulate
  * selector threads and sockets until GC on long multi-partition jobs. */
private[pipeline] object HttpBatch {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}
  import java.nio.charset.StandardCharsets.UTF_8

  private lazy val client: HttpClient = HttpClient.newHttpClient()
  private lazy val mapper = new ObjectMapper()

  def post(endpoint: String, timeoutMs: Long, who: String, field: String,
           sentences: Seq[String]): JsonNode = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("sentences")
    sentences.foreach(arr.add)
    val req = HttpRequest.newBuilder(java.net.URI.create(endpoint))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(root), UTF_8))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    require(resp.statusCode() == 200,
      s"$who server $endpoint returned HTTP ${resp.statusCode()}")
    val out = mapper.readTree(resp.body()).get(field)
    require(out != null && out.isArray && out.size() == sentences.length,
      s"$who reply misaligned: sent ${sentences.length} sentences, " +
        s"got ${if (out == null) "none" else out.size().toString} back")
    out
  }
}
