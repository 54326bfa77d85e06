package graft.sources

import java.io.InputStream

/** The CCSDS space-packet framing walk (reference extractor,
  * binary.py:58-136), shared by both packet readers:
  * `CcsdsSource.parseStream` runs it over an in-memory stream and the
  * `ccsds` V2 partition reader over a byte range of a Hadoop file.
  *
  * The walk yields the packets whose sync marker (framed) or first header
  * byte (unframed) starts in `[start, end)`; a packet that starts in range
  * is read to its end, past `end` if need be — the Hadoop newline
  * ownership rule. A packet cut short by the end of the stream is a
  * truncated tail and dropped. Packets the APID filter rejects are skipped
  * without materializing their data field.
  *
  * The first marker a mid-stream range finds is suspect: the range can
  * start inside a packet whose payload happens to hold the sync pattern.
  * It is accepted only if the next marker, or the end of the stream,
  * starts within `resyncWindow` bytes of the parsed packet's end; a packet
  * parsed out of payload bytes has an arbitrary length, so its end does
  * not line up with the real framing. A window of 0 (gapless framing)
  * rejects nearly all false syncs; streams with garbage between packets
  * must set a window of at least their longest garbage run and accept the
  * weaker check. Later markers are reached from an accepted packet and
  * are not checked.
  *
  * `open(p)` returns the stream positioned at absolute offset `p`. The
  * walk opens at `start` and reopens only while it checks that first
  * marker. It never closes a stream it moves away from, as `open` may
  * return one stream repositioned; `close()` closes the current one.
  */
final class CcsdsFramer(
    open: Long => InputStream, start: Long, end: Long,
    opts: CcsdsSource.Options, resyncWindow: Int) {
  import CcsdsSource.{HeaderSize, SyncMarker}

  // the current packet, valid after next() returns true
  var version, typeFlag, secHdrFlag, apid, seqFlags, seqCount, dataLength = 0
  var secondaryHeader, userData: Array[Byte] = _

  private var in = open(start)
  private var pos = start // offset of the next byte the walk takes
  private var checked = start == 0 || !opts.frameSync
  private var finished = false
  private val header = new Array[Byte](HeaderSize)
  // The read-ahead is the walk's own: java.io's buffered and byte-array
  // streams take a lock on every call, which costs more than a packet.
  private val buf = new Array[Byte](math.max(4096L, math.min(1L << 16, end - start)).toInt)
  private var bufPos, bufLen = 0

  // the current header: in place in the read-ahead when all of it is there
  private var hdr: Array[Byte] = _
  private var at = 0

  private def readHeader(): Boolean =
    if (bufLen - bufPos >= HeaderSize) {
      hdr = buf; at = bufPos; bufPos += HeaderSize; pos += HeaderSize; true
    } else {
      hdr = header; at = 0; take(header, HeaderSize)
    }

  private def reopen(p: Long): Unit = { in = open(p); pos = p; bufPos = 0; bufLen = 0 }

  /** Makes at least one byte available; false at the end of the stream. */
  private def fill(): Boolean = bufPos < bufLen || {
    bufLen = math.max(in.read(buf), 0)
    bufPos = 0
    bufLen > 0
  }

  /** Reads forward to the next sync marker and returns its start offset,
    * or -1 if none starts before `limit`. The end of the stream counts as
    * a marker start, and so does a marker cut short by it.
    */
  private def nextMarker(limit: Long): Long = {
    var matched = 0 // marker bytes just read
    while (pos - matched < limit) {
      if (!fill()) return pos - matched
      val b = buf(bufPos)
      bufPos += 1
      pos += 1
      matched =
        if (b == SyncMarker(matched)) matched + 1
        else if (b == SyncMarker(0)) 1 // the marker has no self-overlap
        else 0
      if (matched == SyncMarker.length) return pos - matched
    }
    -1
  }

  /** Takes the next `n` bytes into `dst`, or skips them if `dst` is null;
    * false if the stream ends first.
    */
  private def take(dst: Array[Byte], n: Int): Boolean = {
    var off = 0
    while (off < n) {
      if (!fill()) return false
      val k = math.min(n - off, bufLen - bufPos)
      if (dst != null) System.arraycopy(buf, bufPos, dst, off, k)
      bufPos += k
      off += k
    }
    pos += n
    true
  }

  def next(): Boolean = {
    while (!finished) {
      val packetStart = if (opts.frameSync) nextMarker(end) else if (pos < end) pos else -1
      if (packetStart < 0 || !readHeader()) { finished = true; return false }
      val word0 = ((hdr(at) & 0xff) << 8) | (hdr(at + 1) & 0xff)
      val word1 = ((hdr(at + 2) & 0xff) << 8) | (hdr(at + 3) & 0xff)
      val word2 = ((hdr(at + 4) & 0xff) << 8) | (hdr(at + 5) & 0xff)
      val dataLen = word2 + 1
      val id = word0 & 0x7ff
      if (!checked) {
        val packetEnd = pos + dataLen
        if (take(null, dataLen) && nextMarker(packetEnd + resyncWindow + 1) >= 0) {
          checked = true
          reopen(packetStart) // and read the packet again, as an accepted one
        } else {
          reopen(packetStart + SyncMarker.length) // a false sync: rescan after it
        }
      } else if (opts.apidFilter.forall(_.contains(id))) {
        secHdrFlag = (word0 >> 11) & 0x1
        val secLen = if (secHdrFlag == 1) math.min(opts.secHdrLength, dataLen) else 0
        secondaryHeader = new Array[Byte](secLen)
        userData = new Array[Byte](dataLen - secLen)
        if (!take(secondaryHeader, secLen) || !take(userData, dataLen - secLen)) {
          finished = true
          return false
        }
        apid = id
        version = (word0 >> 13) & 0x7
        typeFlag = (word0 >> 12) & 0x1
        seqFlags = (word1 >> 14) & 0x3
        seqCount = word1 & 0x3fff
        dataLength = word2
        return true
      } else if (!take(null, dataLen)) {
        finished = true
      }
    }
    false
  }

  def close(): Unit = in.close()
}
