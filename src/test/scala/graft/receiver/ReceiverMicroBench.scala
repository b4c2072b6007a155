package graft.receiver

import graft.canon.Identity

/** Micro-bench of the receiver's per-chunk critical path (parse → canonical
  * re-render → sha256): the POST's ACK gates on this work, so it bounds
  * protocol throughput — and of the sink's full HTTP round trip at a
  * 25-record and a 4000-record body.
  *
  *   sbt "Test/runMain graft.receiver.ReceiverMicroBench"
  */
object ReceiverMicroBench {
  def main(args: Array[String]): Unit = {
    val n = 4000
    val rec = (i: Int) =>
      s"""{"l_orderkey":$i,"l_partkey":${i % 2000},"l_suppkey":${i % 100},"l_linenumber":${i % 7},"l_quantity":${i % 50}.00,"l_extendedprice":${10000 + i}.55,"l_discount":0.0${i % 10},"l_tax":0.0${i % 8},"l_returnflag":"N","l_linestatus":"O","l_shipdate":"1996-03-${10 + i % 19}","l_commitdate":"1996-02-${10 + i % 19}","l_receiptdate":"1996-04-${10 + i % 19}","l_shipinstruct":"DELIVER IN PERSON","l_shipmode":"TRUCK","l_comment":"comment text number $i with some words"}"""
    // the real pipeline sends records already in canonical form (sorted
    // keys), and the checksum covers exactly those bytes — mirror that
    val records = (0 until n).map(i => MiniJson.canonical(MiniJson.parse(rec(i))))
    val payload = records.mkString("[", ",", "]")
    val checksum = Identity.sha256Hex(payload)
    val body =
      s"""{"ingestion_id":"bench","chunk_number":0,"chunk_id":"c0","checksum":"$checksum","is_last":false,"records":$payload}"""
    println(s"body bytes: ${body.length}")

    // component timings on the parsed pieces
    def time[A](what: String, reps: Int)(f: => A): Unit = {
      f; f // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { f; i += 1 }
      println(f"$what%-28s ${(System.nanoTime() - t0) / 1e6 / reps}%8.2f ms")
    }
    time("parse body", 20)(MiniJson.parse(body))
    val parsed = MiniJson.parse(body).asInstanceOf[MiniJson.JObj]
    val recs = parsed.get("records").get.asInstanceOf[MiniJson.JArr].vs
    time("canonical re-render", 20)(MiniJson.canonicalAll(recs, body.length))
    time("sha256", 20)(Identity.sha256Hex(payload))
    val mock = new MockPimCore
    // fresh ingestion id per call so ordering accepts chunk 0 every time
    var k = 0
    time("full handle()", 20) {
      val b = body.replace("\"bench\"", s""""bench$k"""")
      k += 1
      mock.handle(b)
    }

    // full HTTP round trip (header + payload POST + receiver validate +
    // ACK) at the small-chunk and the large-chunk body size: the sink's
    // per-POST client overhead shows at 25 records, its upload path at 4000
    val (_, server, url) = MockPimCore.serve()
    try {
      val sink = new graft.sink.OrderedAckHttpSink(url)
      var j = 1000
      Seq(25, n).foreach { size =>
        val chunk = records.take(size).mkString("[", ",", "]")
        val payload = chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sum = Identity.sha256Hex(chunk)
        time(s"http round trip ${size}r/${payload.length}B payload",
            if (size == n) 20 else 200) {
          sink.sendChunk(s"rt$j", 0, s"rt$j-c0", sum, payload, isLast = false)
          j += 1
        }
      }
      // isolate transport: same client, near-empty body (fixed overhead)
      time("http tiny body", 20)(sink.sendCompleted(s"rt${j - 1}", 0, n.toLong))
    } finally server.stop(0)
  }
}
