package graft.sources.gorilla

/** Byte-exact codec for the reference engine's shard file format
  * (/root/reference/engine/shard.cpp):
  *
  *  - LEB128 unsigned varints (shard.cpp:6-24);
  *  - raw timestamp varint whenever prev_timestamp == 0 — i.e. for the first
  *    point AND after any ts==0 point (shard.cpp:111-112, 35-37);
  *  - otherwise: varint(zigzag(delta-of-delta)) (shard.cpp:113-119);
  *  - every point: varint(bits(value) XOR bits(prev value)) with prev=0 for
  *    the first point (shard.cpp:121-125);
  *  - decode drops a LEADING ts==0 point (but still folds its value into the
  *    XOR chain) exactly like the reader's guard (shard.cpp:52-54:
  *    `if (point.timestamp != 0 || !points.empty())`).
  *
  * The encoder exists so tests (and migrations in reverse) can produce
  * reference-format files; the decoder backs the DSv2 scan.
  */
object GorillaCodec {

  def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)
  def unzigzag(z: Long): Long = (z >>> 1) ^ -(z & 1L)

  /** Incremental point-at-a-time encoder over an OutputStream — O(1)
    * state (three longs), no per-shard buffering: the migration writer
    * streams a sorted partition straight through one of these per shard
    * file, so a hot shard-hour never materializes in an executor's heap.
    * Byte-identical to [[encode]] (which is a thin wrapper). */
  final class StreamingEncoder(out: java.io.OutputStream) {
    private var prevTs = 0L
    private var prevDelta = 0L
    private var prevBits = 0L

    private def writeVarint(value: Long): Unit = {
      var v = value
      while ((v & ~0x7FL) != 0L) {
        out.write((((v & 0x7FL) | 0x80L)).toInt)
        v = v >>> 7
      }
      out.write((v & 0x7FL).toInt)
    }

    def add(ts: Long, value: Double): Unit = {
      // the reference keys raw-vs-DoD off prev_timestamp == 0, NOT a
      // first-point flag (shard.cpp:111): after a ts==0 point the next
      // timestamp is raw-encoded again and prevDelta is left untouched
      if (prevTs == 0L) writeVarint(ts)
      else {
        val delta = ts - prevTs
        writeVarint(zigzag(delta - prevDelta))
        prevDelta = delta
      }
      prevTs = ts
      val bits = java.lang.Double.doubleToRawLongBits(value)
      writeVarint(bits ^ prevBits)
      prevBits = bits
    }
  }

  /** Encode a point stream (insertion order) into shard-file bytes. */
  def encode(points: Seq[(Long, Double)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val enc = new StreamingEncoder(bos)
    points.foreach { case (ts, v) => enc.add(ts, v) }
    bos.toByteArray
  }

  /** Decode shard-file bytes back into (timestamp, value) points. */
  def decode(bytes: Array[Byte]): Seq[(Long, Double)] =
    decodeIterator(bytes).toSeq

  /** Streaming decoder: points are produced lazily, one at a time — the
    * scan path never materializes a whole shard as boxed tuples, and a
    * pushed-down LIMIT can stop decoding mid-file. Semantics identical to
    * the buffered [[decode]] (which is now just `.toSeq` of this),
    * including the leading-ts==0 drop (shard.cpp:52-54). */
  def decodeIterator(bytes: Array[Byte]): Iterator[(Long, Double)] =
    new Iterator[(Long, Double)] {
      private var pos = 0
      private var prevTs = 0L
      private var prevDelta = 0L
      private var prevBits = 0L
      private var emittedAny = false
      private var nextPoint: (Long, Double) = _
      private var nextReady = false

      private def readVarint(): Long = {
        var result = 0L
        var shift = 0
        var more = true
        while (more && pos < bytes.length) {
          val b = bytes(pos); pos += 1
          result |= (b & 0x7FL) << shift
          shift += 7
          more = (b & 0x80) != 0
        }
        result
      }

      private def advance(): Unit = {
        while (!nextReady && pos < bytes.length) {
          val ts =
            if (prevTs == 0L) readVarint() // shard.cpp:35-37 — raw while prev==0
            else {
              val delta = prevDelta + unzigzag(readVarint())
              prevDelta = delta
              prevTs + delta
            }
          prevTs = ts
          val bits = prevBits ^ readVarint()
          prevBits = bits
          // shard.cpp:52-54: drop a leading ts==0 point (e.g. the phantom
          // from read_varint returning 0 at EOF) but keep every later one
          if (ts != 0L || emittedAny) {
            nextPoint = (ts, java.lang.Double.longBitsToDouble(bits))
            nextReady = true
            emittedAny = true
          }
        }
      }

      override def hasNext: Boolean = { advance(); nextReady }
      override def next(): (Long, Double) = {
        advance()
        if (!nextReady) throw new NoSuchElementException
        nextReady = false
        nextPoint
      }
    }

  /** Timestamp-only stats pass: (n, minTs, maxTs) in one sweep over the
    * bytes. The value varints are SKIPPED (never XOR-reconstructed) and no
    * per-point tuples or rows materialize — this backs the DSv2
    * MIN/MAX/COUNT aggregate pushdown, where each shard file reduces to a
    * single partial row. Timestamp semantics mirror [[decode]] exactly,
    * including the leading-ts==0 drop. Shard filenames CANNOT stand in for
    * these stats: they carry hour-bucket boundaries, not point extremes, and
    * the reference appends out-of-order points silently. min/max are
    * undefined (Long.MaxValue/MinValue) when n == 0. */
  def tsStats(bytes: Array[Byte]): (Long, Long, Long) = {
    var pos = 0
    def readVarint(): Long = {
      var result = 0L
      var shift = 0
      var more = true
      while (more && pos < bytes.length) {
        val b = bytes(pos); pos += 1
        result |= (b & 0x7FL) << shift
        shift += 7
        more = (b & 0x80) != 0
      }
      result
    }
    def skipVarint(): Unit = {
      while (pos < bytes.length && (bytes(pos) & 0x80) != 0) pos += 1
      if (pos < bytes.length) pos += 1
    }
    var n = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var prevTs = 0L
    var prevDelta = 0L
    while (pos < bytes.length) {
      val ts =
        if (prevTs == 0L) readVarint()
        else {
          val delta = prevDelta + unzigzag(readVarint())
          prevDelta = delta
          prevTs + delta
        }
      prevTs = ts
      skipVarint() // value bits — irrelevant to timestamp stats
      if (ts != 0L || n > 0) {
        n += 1
        if (ts < mn) mn = ts
        if (ts > mx) mx = ts
      }
    }
    (n, mn, mx)
  }
}

/** Reverse-migration writer: dump a point Dataset INTO the reference's
  * shard-file layout (one `<start>-<end>.bin` per hour shard, points in
  * (ts, value) order). Fully streaming: shards are hash-repartitioned so
  * each lives in exactly one task, points are sort-merged by Spark's
  * spill-capable external sorter (`sortWithinPartitions`), and each task
  * walks its iterator once, feeding a [[GorillaCodec.StreamingEncoder]]
  * straight into a buffered file stream — per-task memory is O(1)
  * regardless of how hot a shard-hour is (the previous `mapGroups` +
  * `toSeq.sortBy` pinned a whole shard's points in one heap). `dir` must
  * be a filesystem all executors can reach (trivially true on local[N];
  * a shared mount on a cluster). */
object GorillaShardWriter {
  def writeShards(points: org.apache.spark.sql.Dataset[graft.model.DataPoint],
      dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    import points.sparkSession.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    points
      .select(col("timestamp"), col("value"),
        graft.model.shardHourCol(col("timestamp")).as("shard"))
      .as[(Long, Double, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("timestamp"), col("value"))
      .mapPartitions { it =>
        // consecutive rows of one shard stream through one encoder; a
        // shard boundary closes the file and opens the next — no state
        // beyond the codec's three longs and the stream's write buffer.
        // Each shard encodes into a task-unique dotfile and is ATOMICALLY
        // renamed into its final name on close: a killed/retried task can
        // never leave a truncated file under a final name, and the retry
        // (or a speculative twin) just replaces the rename target with
        // identical bytes (the sorted input is deterministic).
        var curShard = Long.MinValue
        var out: java.io.BufferedOutputStream = null
        var enc: GorillaCodec.StreamingEncoder = null
        var tmp: java.nio.file.Path = null
        var fin: java.nio.file.Path = null
        val taskTag = java.util.UUID.randomUUID().toString
        val written = Seq.newBuilder[Long]
        def close(): Unit = if (out != null) {
          out.close(); out = null
          java.nio.file.Files.move(tmp, fin,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        it.foreach { case (ts, v, shard) =>
          if (shard != curShard || enc == null) {
            close()
            val (start, end) = graft.model.hourSpan(shard)
            // end-INCLUSIVE filename, matching get_shard_path
            // (insight.cpp:11): the reference reconstructs exact paths in
            // query_range, so anything else is silently invisible to it
            fin = java.nio.file.Paths.get(dir, s"$start-$end.bin")
            tmp = java.nio.file.Paths.get(dir, s".$taskTag-$start.tmp")
            out = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(tmp.toFile))
            enc = new GorillaCodec.StreamingEncoder(out)
            curShard = shard
            written += shard
          }
          enc.add(ts, v)
        }
        close()
        written.result().iterator
      }
      .collect() // shard-id metadata only — bounded by the shard count
  }
}
