package graft.ops

/**
 * Ogg Vorbis PCM decoder — the audio codec whose entropy tables ship
 * IN THE STREAM: every Huffman codebook, floor configuration and
 * residue cascade arrives in the stream's own setup header (Vorbis I
 * specification, Xiph.Org — public), so the no-fabrication discipline
 * that keeps MP3's untranscribable Huffman families 10–31 and AAC's
 * codebooks out of this repo does not apply here. What the spec
 * defines as ALGORITHM (codeword assignment, floor-1 line rendering,
 * residue partitioning, inverse coupling, IMDCT, lapped windows) is
 * implemented from the spec text; the implementation is validated by
 * inverting an independent in-repo encoder direction
 * (VorbisEncoder, in test scope) exactly — the FLAC/MP3 pattern
 * (reference: php-ec has no media decode at all; this is pipeline
 * surface beyond SURVEY §2).
 *
 * Declared seams (each claims nothing or is sign-preserving, never
 * fabricated):
 *  - floor type 0 (LSP) claims nothing — essentially absent from
 *    real-world streams, and its Bark-scale constants would have to
 *    be transcribed from memory;
 *  - the floor-1 amplitude table is COMPUTED, not transcribed:
 *    `10^((i−255)·7/255)` — a 140 dB span whose i=0 endpoint (1e-7)
 *    sits within 6% of the spec table's published 1.0649863e-07.
 *    Against the normative table this is a per-sample POWER-LAW
 *    remap of amplitudes, which preserves the SIGN of every
 *    log-domain band comparison the audio fingerprint is built
 *    from, and the in-repo encoder inverts this same table so the
 *    roundtrip is exact;
 *  - codebooks with a single used entry claim nothing (the spec's
 *    special case is rare and its bit-consumption convention is not
 *    reconstructible from the assignment rule alone);
 *  - an end-of-packet condition inside an AUDIO packet is not an
 *    error (spec §1.1): during RESIDUE decode the remaining values
 *    stay zero; during FLOOR decode the channel is rendered UNUSED
 *    for the frame (the spec's floor1 rule — round 20, was
 *    zero-filled posts before); inside a HEADER it claims nothing.
 *
 * Opus (the other Ogg audio codec) is deliberately NOT decoded:
 * unlike Vorbis, SILK/CELT carry their large quantization/codebook
 * constants in the SPEC, not the stream, and those tables fail the
 * same transcription-verification gate that keeps MP3's linbits
 * families out (Mp3Tables.scala) — q_m40 measures Opus-in-Ogg as an
 * honest zero rather than decoding against fabricated tables.
 *
 * Scale shape: one blob decodes entirely inside its partition (the
 * fingerprint face's mapPartitions), the same resource caps as the
 * MP3/zstd decoders bound hostile streams.
 */
object Vorbis {

  final case class Pcm(sampleRate: Int, channels: Int, samples: Array[Float])

  /** Output cap, the Mp3.MaxFrames discipline: ~10 min @ 48 kHz
   * stereo of floats; decode stops there and returns what decoded. */
  private val MaxSamples = 32000000L

  private val MaxCodebookEntries = 1 << 20

  /** Setup-wide resource budget (round 20): a few-KB hostile setup
   * header can DECLARE up to 256 codebooks of 2^20 entries each
   * (ordered-mode length lists are nearly free to declare), which
   * would allocate GBs across per-book lengths/codes/tree arrays
   * before any structural error surfaces — and an OutOfMemoryError
   * is not a RuntimeException, so it would kill the executor instead
   * of claiming nothing. The budget bounds the SUM across all books:
   * total entries ≤ 2^20 and total lookup floats ≤ 2^22, the same
   * hostile-input discipline as the MP3/zstd caps. Real streams sit
   * orders of magnitude below both. */
  private final class SetupBudget {
    var entriesLeft: Long = MaxCodebookEntries.toLong
    var lookupLeft: Long = MaxCodebookEntries.toLong << 2
  }

  def decode(b: Array[Byte]): Option[Pcm] =
    try decodeImpl(b) catch { case _: RuntimeException => None }

  /** Vorbis AUDIO track of a WebM/Matroska file (round 20): the
   * packets come from CodecPrivate's Xiph-laced three headers plus
   * the track's block frames (Multimodal's element walk), the tail
   * clamp from Segment Duration × SamplingFrequency — so a
   * webm-muxed re-encode fingerprints identically to its Ogg twin. */
  def decodeWebm(b: Array[Byte]): Option[Pcm] =
    try Multimodal.AvHeaders.webmVorbisPackets(b).flatMap {
      case (packets, clamp) => decodePackets(packets, clamp)
    } catch { case _: RuntimeException => None }

  /** Test-only entry that lets structural errors propagate. */
  private[ops] def decodeOrThrow(b: Array[Byte]): Option[Pcm] = decodeImpl(b)

  // ------------------------------------------------------------ bits
  /** LSb-first bit reader over one packet (Vorbis packs the opposite
   * way round from MP3). Reading past the end raises `eop` instead
   * of throwing: header parsing treats that as fatal, audio decode
   * treats it as end-of-packet (remaining values zero, per spec). */
  private[ops] final class Br(val b: Array[Byte]) {
    private var bit = 0
    var eop = false
    def read(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        val p = bit + k
        if (p >= b.length * 8) { eop = true; return v }
        v |= ((b(p >> 3) >> (p & 7)) & 1) << k
        k += 1
      }
      bit += n
      v
    }
    def readLong(n: Int): Long = {
      var v = 0L
      var k = 0
      while (k < n) {
        val p = bit + k
        if (p >= b.length * 8) { eop = true; return v }
        v |= ((b(p >> 3) >> (p & 7)) & 1L) << k
        k += 1
      }
      bit += n
      v
    }
    def bit1(): Int = {
      if (bit >= b.length * 8) { eop = true; return 0 }
      val v = (b(bit >> 3) >> (bit & 7)) & 1
      bit += 1
      v
    }
  }

  /** ilog per spec: bits needed for the value (ilog(0)=0, ilog(7)=3). */
  private def ilog(x: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(x, 0))

  /** float32_unpack per spec §9.2.2. */
  private def float32Unpack(x: Long): Float = {
    val mant = (x & 0x1fffff).toDouble
    val sign = (x & 0x80000000L) != 0
    val exp = ((x & 0x7fe00000L) >> 21).toInt
    val m = if (sign) -mant else mant
    (m * math.pow(2.0, exp - 788)).toFloat
  }

  // ------------------------------------------------------- codebooks
  /** Binary decode tree: node > 0 = internal (index), node <= 0 =
   * leaf (−entry). children(2i), children(2i+1). */
  private[ops] final class Codebook(
      val dims: Int,
      val entries: Int,
      val child: Array[Int], // 2*node + bit -> child (>0 node, <=0 -entry, Int.MinValue empty)
      val lookup: Array[Float], // null when lookup type 0
      val lookupValues: Int, // lattice size (type 1) or 0 (type 2)
      val lookupType: Int,
      val minimum: Float,
      val delta: Float,
      val sequenceP: Boolean) {

    def decodeScalar(br: Br): Int = {
      var node = 1
      var guard = 0
      while (guard < 33) {
        val bit = br.bit1()
        if (br.eop) return -1
        val c = child(2 * node + bit)
        if (c == Int.MinValue) sys.error("vorbis: codeword walks off the tree")
        if (c <= 0) return -c
        node = c
        guard += 1
      }
      sys.error("vorbis: codeword longer than 32 bits")
    }

    /** VQ decode into `out` per the spec's vector contexts. */
    def decodeVq(br: Br, out: Array[Float]): Boolean = {
      val e = decodeScalar(br)
      if (e < 0) return false
      var last = 0f
      if (lookupType == 1) {
        var div = 1
        var k = 0
        while (k < dims) {
          val off = (e / div) % lookupValues
          out(k) = lookup(off) * delta + minimum + last
          if (sequenceP) last = out(k)
          div *= lookupValues
          k += 1
        }
      } else {
        var k = 0
        while (k < dims) {
          out(k) = lookup(e * dims + k) * delta + minimum + last
          if (sequenceP) last = out(k)
          k += 1
        }
      }
      true
    }
  }

  /** Codeword assignment per the spec's rule: entries in order, each
   * takes the LOWEST-valued unused codeword of its length. Kept as an
   * explicit available-subtree set (a heap of free slots per length):
   * obviously equivalent to the spec's English, no transcribed marker
   * tricks. The tree must come out exactly full (an under- or
   * over-specified tree claims nothing; single-used-entry books are a
   * declared seam, see the object comment). */
  private[ops] def buildTree(lengths: Array[Int]): Array[Int] = {
    val used = lengths.count(_ > 0)
    if (used <= 1) sys.error("vorbis: empty or single-entry codebook (declared seam)")
    // free slots per length: code values, min-heap
    val free = Array.fill(33)(scala.collection.mutable.PriorityQueue.empty[Long](Ordering[Long].reverse))
    free(0).enqueue(0L) // the root
    val codes = new Array[Long](lengths.length)
    var i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      if (l > 0) {
        if (l > 32) sys.error("vorbis: codeword length > 32")
        // the lowest-valued codeword of length l extends the free
        // slot with the smallest fractional position c / 2^a, a <= l
        var bestA = -1
        var bestFrac = Long.MaxValue
        var a = 0
        while (a <= l) {
          if (free(a).nonEmpty) {
            val frac = free(a).head << (62 - a) // position in [0,1)
            if (frac < bestFrac) { bestFrac = frac; bestA = a }
          }
          a += 1
        }
        if (bestA < 0) sys.error("vorbis: over-specified codebook")
        var c = free(bestA).dequeue()
        var j = bestA
        while (j < l) {
          // descend the 0 branch; the 1 sibling becomes free
          free(j + 1).enqueue((c << 1) | 1L)
          c <<= 1
          j += 1
        }
        codes(i) = c
      }
      i += 1
    }
    if ((0 to 32).exists(free(_).nonEmpty)) sys.error("vorbis: under-specified codebook")
    // build the walk tree: bit k of a length-l code, MSB first.
    // Unboxed Int array sized from the exact-full-tree invariant the
    // free-slot check above just proved: a full binary tree over
    // `used` leaves has used−1 internal nodes (indices 1..used−1),
    // so 2·node+bit < 2·used.
    val child = new Array[Int](2 * used + 2)
    java.util.Arrays.fill(child, Int.MinValue)
    var nNodes = 1
    i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      if (l > 0) {
        var node = 1
        var k = l - 1
        while (k > 0) {
          val bit = ((codes(i) >> k) & 1L).toInt
          var c = child(2 * node + bit)
          if (c == Int.MinValue) {
            nNodes += 1
            c = nNodes
            if (2 * c + 1 >= child.length) sys.error("vorbis: tree node overflow")
            child(2 * node + bit) = c
          } else if (c <= 0) sys.error("vorbis: prefix clash")
          node = c
          k -= 1
        }
        val bit = (codes(i) & 1L).toInt
        if (child(2 * node + bit) != Int.MinValue) sys.error("vorbis: duplicate codeword")
        child(2 * node + bit) = -i
      }
      i += 1
    }
    child
  }

  private def readCodebook(br: Br, budget: SetupBudget): Codebook = {
    if (br.read(24) != 0x564342) sys.error("vorbis: bad codebook sync")
    val dims = br.read(16)
    val entries = br.read(24)
    if (br.eop || dims <= 0 || entries <= 0 || entries > MaxCodebookEntries)
      sys.error("vorbis: codebook bounds")
    if (entries.toLong > budget.entriesLeft)
      sys.error("vorbis: setup entries budget exhausted")
    budget.entriesLeft -= entries
    val lengths = new Array[Int](entries)
    if (br.bit1() == 0) { // unordered
      val sparse = br.bit1() == 1
      var i = 0
      while (i < entries) {
        if (sparse && br.bit1() == 0) lengths(i) = 0
        else lengths(i) = br.read(5) + 1
        i += 1
      }
    } else { // ordered
      var cur = 0
      var len = br.read(5) + 1
      while (cur < entries) {
        val num = br.read(ilog(entries - cur))
        if (br.eop || cur + num > entries) sys.error("vorbis: ordered lengths overrun")
        var k = 0
        while (k < num) { lengths(cur + k) = len; k += 1 }
        cur += num
        len += 1
        if (len > 33 && cur < entries) sys.error("vorbis: ordered length overflow")
      }
    }
    if (br.eop) sys.error("vorbis: eop in codebook lengths")
    val child = buildTree(lengths)
    val lookupType = br.read(4)
    lookupType match {
      case 0 =>
        new Codebook(dims, entries, child, null, 0, 0, 0f, 0f, sequenceP = false)
      case 1 | 2 =>
        val minimum = float32Unpack(br.readLong(32))
        val delta = float32Unpack(br.readLong(32))
        val valueBits = br.read(4) + 1
        val seqP = br.bit1() == 1
        // entries·dims is computed in LONG: with entries up to 2^20
        // and dims up to 65535 the Int product wraps (up to 2^36), so
        // a wrapped-positive value could pass the bound and allocate
        // a lookup table inconsistent with decodeVq's indexing
        val nMultL: Long =
          if (lookupType == 1) {
            // largest integer x with x^dims <= entries
            var x = 1
            while (math.pow(x + 1, dims) <= entries) x += 1
            x.toLong
          } else entries.toLong * dims.toLong
        if (nMultL > (MaxCodebookEntries.toLong << 2) || nMultL > budget.lookupLeft)
          sys.error("vorbis: lookup bounds")
        budget.lookupLeft -= nMultL
        val nMult = nMultL.toInt
        val lookupValues = if (lookupType == 1) nMult else 0
        val mult = new Array[Float](nMult)
        var i = 0
        while (i < nMult) { mult(i) = br.read(valueBits).toFloat; i += 1 }
        if (br.eop) sys.error("vorbis: eop in codebook lookup")
        new Codebook(dims, entries, child, mult, if (lookupType == 1) lookupValues else 0,
          lookupType, minimum, delta, seqP)
      case _ => sys.error("vorbis: reserved lookup type")
    }
  }

  // ---------------------------------------------------------- floors
  private final case class Floor1(
      partitionClasses: Array[Int],
      classDims: Array[Int],
      classSubclasses: Array[Int],
      classMasterbooks: Array[Int],
      subclassBooks: Array[Array[Int]],
      multiplier: Int,
      xList: Array[Int])

  /** The COMPUTED amplitude table (declared seam, see object
   * comment): 10^((i−255)·7/255) — monotone, 140 dB span, exact for
   * the in-repo encoder which quantizes through this same table. */
  private[ops] val InverseDb: Array[Float] =
    Array.tabulate(256)(i => math.pow(10.0, (i - 255).toDouble * 7.0 / 255.0).toFloat)

  private def readFloor1(br: Br): Floor1 = {
    val partitions = br.read(5)
    val pclass = Array.fill(partitions)(br.read(4))
    val maxClass = if (partitions == 0) -1 else pclass.max
    val nClasses = maxClass + 1
    val dims = new Array[Int](nClasses)
    val subs = new Array[Int](nClasses)
    val masters = Array.fill(nClasses)(-1)
    val books = new Array[Array[Int]](nClasses)
    var c = 0
    while (c < nClasses) {
      dims(c) = br.read(3) + 1
      subs(c) = br.read(2)
      if (subs(c) > 0) masters(c) = br.read(8)
      books(c) = Array.fill(1 << subs(c))(br.read(8) - 1)
      c += 1
    }
    val multiplier = br.read(2) + 1
    val rangebits = br.read(4)
    val xs = scala.collection.mutable.ArrayBuffer(0, 1 << rangebits)
    var p = 0
    while (p < partitions) {
      var j = 0
      while (j < dims(pclass(p))) { xs += br.read(rangebits); j += 1 }
      p += 1
    }
    if (br.eop) sys.error("vorbis: eop in floor1 header")
    val xList = xs.toArray
    if (xList.distinct.length != xList.length) sys.error("vorbis: floor1 X not unique")
    Floor1(pclass, dims, subs, masters, books, multiplier, xList)
  }

  private[graft] def renderPoint(x0: Int, y0: Int, x1: Int, y1: Int, x: Int): Int = {
    val dy = y1 - y0
    val adx = x1 - x0
    val ady = math.abs(dy)
    val err = ady * (x - x0)
    val off = err / adx
    if (dy < 0) y0 - off else y0 + off
  }

  private def renderLine(x0: Int, y0: Int, x1: Int, y1: Int,
      out: Array[Float], n: Int): Unit = {
    val dy = y1 - y0
    val adx = x1 - x0
    val base = dy / adx
    val sy = if (dy < 0) base - 1 else base + 1
    val ady = math.abs(dy) - math.abs(base) * adx
    var x = x0
    var y = y0
    var err = 0
    if (x0 < n) out(x0) = InverseDb(math.min(255, math.max(0, y0)))
    x = x0 + 1
    while (x < math.min(x1, n)) {
      err += ady
      if (err >= adx) { err -= adx; y += sy } else y += base
      out(x) = InverseDb(math.min(255, math.max(0, y)))
      x += 1
    }
  }

  /** Decodes one channel's floor curve into `out` (length n2).
   * Returns false when the channel is unaudible (out untouched).
   * An end-of-packet condition hit ANYWHERE inside the floor decode
   * renders the channel UNUSED this frame (spec floor1 decode step:
   * "an end-of-packet condition during curve decode … this channel
   * is unused during synthesis"), unlike residue EOP where the
   * remaining values stay zero — folding zeros into the post vector
   * here would synthesize a deviant floor curve from a truncated
   * packet instead of silence. */
  private def decodeFloor1Curve(br: Br, f: Floor1, books: Array[Codebook],
      n2: Int, out: Array[Float]): Boolean = {
    if (br.bit1() == 0 || br.eop) return false
    val range = Array(256, 128, 86, 64)(f.multiplier - 1)
    val values = f.xList.length
    val y = new Array[Int](values)
    y(0) = br.read(ilog(range - 1))
    y(1) = br.read(ilog(range - 1))
    if (br.eop) return false
    var offset = 2
    var p = 0
    while (p < f.partitionClasses.length) {
      val cls = f.partitionClasses(p)
      val cdim = f.classDims(cls)
      val cbits = f.classSubclasses(cls)
      val csub = (1 << cbits) - 1
      var cval = 0
      if (cbits > 0) {
        val mb = f.classMasterbooks(cls)
        if (mb < 0 || mb >= books.length) sys.error("vorbis: floor masterbook id")
        cval = books(mb).decodeScalar(br)
        if (cval < 0) return false // eop mid-floor: channel unused
      }
      var j = 0
      while (j < cdim) {
        val bk = f.subclassBooks(cls)(cval & csub)
        cval >>= cbits
        if (bk >= 0) {
          if (bk >= books.length) sys.error("vorbis: floor subclass book id")
          val v = books(bk).decodeScalar(br)
          if (v < 0) return false // eop mid-floor: channel unused
          y(offset + j) = v
        } else y(offset + j) = 0
        j += 1
      }
      offset += cdim
      p += 1
    }
    floor1Synth(f.xList, y, f.multiplier, n2, out)
    true
  }

  /** Amplitude synthesis (spec step 2: neighbor prediction, room
   * folding) + curve synthesis from the RAW post values — shared
   * with the encoder direction (VorbisEncoder, in test scope) so
   * analysis divides by the EXACT curve synthesis renders. */
  private[graft] def floor1Synth(xList: Array[Int], y: Array[Int],
      multiplier: Int, n2: Int, out: Array[Float]): Unit = {
    val values = xList.length
    val range = Array(256, 128, 86, 64)(multiplier - 1)
    val finalY = new Array[Int](values)
    val step2 = new Array[Boolean](values)
    step2(0) = true; step2(1) = true
    finalY(0) = y(0); finalY(1) = y(1)
    var i = 2
    while (i < values) {
      // low/high neighbors per spec: among posts BEFORE i
      var lo = 0
      var hi = 1
      var j = 0
      while (j < i) {
        if (xList(j) < xList(i) && xList(j) > xList(lo)) lo = j
        if (xList(j) > xList(i) && xList(j) < xList(hi)) hi = j
        j += 1
      }
      val predicted = renderPoint(xList(lo), finalY(lo), xList(hi), finalY(hi), xList(i))
      val v = y(i)
      val highroom = range - predicted
      val lowroom = predicted
      val room = 2 * math.min(highroom, lowroom)
      if (v != 0) {
        step2(lo) = true; step2(hi) = true; step2(i) = true
        finalY(i) =
          if (v >= room) {
            if (highroom > lowroom) v - lowroom + predicted
            else predicted - (v - highroom) - 1
          } else if ((v & 1) == 1) predicted - ((v + 1) / 2)
          else predicted + v / 2
      } else {
        step2(i) = false
        finalY(i) = predicted
      }
      i += 1
    }
    // curve synthesis over the sorted posts
    val sortOrder = xList.indices.sortBy(xList).toArray
    var hx = 0
    var lx = 0
    var ly = math.min(finalY(sortOrder(0)), range - 1) * multiplier
    var k = 1
    var hy = 0
    while (k < values) {
      val idx = sortOrder(k)
      if (step2(idx)) {
        hy = math.min(finalY(idx), range - 1) * multiplier
        hx = xList(idx)
        renderLine(lx, ly, hx, hy, out, n2)
        lx = hx
        ly = hy
      }
      k += 1
    }
    if (hx < n2) {
      var x = hx
      val v = InverseDb(math.min(255, math.max(0, ly)))
      while (x < n2) { out(x) = v; x += 1 }
    }
  }

  // --------------------------------------------------------- residue
  private[ops] final case class Residue(
      resType: Int,
      begin: Int,
      end: Int,
      partitionSize: Int,
      classifications: Int,
      classbook: Int,
      cascade: Array[Int],
      books: Array[Array[Int]]) // [class][pass] (-1 unused)

  private def readResidue(resType: Int, br: Br): Residue = {
    val begin = br.read(24)
    val end = br.read(24)
    val psize = br.read(24) + 1
    val nClass = br.read(6) + 1
    val classbook = br.read(8)
    val cascade = new Array[Int](nClass)
    var i = 0
    while (i < nClass) {
      val low = br.read(3)
      val high = if (br.bit1() == 1) br.read(5) else 0
      cascade(i) = (high << 3) | low
      i += 1
    }
    val books = Array.fill(nClass)(Array.fill(8)(-1))
    i = 0
    while (i < nClass) {
      var p = 0
      while (p < 8) {
        if ((cascade(i) & (1 << p)) != 0) books(i)(p) = br.read(8)
        p += 1
      }
      i += 1
    }
    if (br.eop || begin > end) sys.error("vorbis: residue header")
    Residue(resType, begin, end, psize, nClass, classbook, cascade, books)
  }

  /** The VQ scratch is sized from the LARGEST dims among this
   * residue's own books (round 20 — was a fixed 64): a legal stream
   * whose residue book has dims > 64 must decode, not AIOOBE into a
   * silent claims-nothing (dims is 16-bit; the setup budget bounds
   * the allocation). */
  private[ops] def residueScratchDims(r: Residue, books: Array[Codebook]): Int = {
    var maxDims = 1
    var bi = 0
    while (bi < r.books.length) {
      var pi = 0
      while (pi < r.books(bi).length) {
        val bk = r.books(bi)(pi)
        if (bk >= 0 && bk < books.length && books(bk).dims > maxDims)
          maxDims = books(bk).dims
        pi += 1
      }
      bi += 1
    }
    maxDims
  }

  /** Residue types 0/1 inner decode over `vectors` (each of size n).
   * doNotDecode flags channels whose floor was unaudible. */
  private def decodeResidueInner(br: Br, r: Residue, books: Array[Codebook],
      vectors: Array[Array[Float]], n: Int, doNotDecode: Array[Boolean]): Unit = {
    val actualBegin = math.min(r.begin, n)
    val actualEnd = math.min(r.end, n)
    if (actualEnd <= actualBegin) return
    val psize = r.partitionSize
    val partitions = (actualEnd - actualBegin) / psize
    if (partitions <= 0) return
    if (r.classbook >= books.length) sys.error("vorbis: residue classbook id")
    val cb = books(r.classbook)
    val classwords = cb.dims
    val ch = vectors.length
    val classif = Array.ofDim[Int](ch, partitions + classwords)
    val vqTmp = new Array[Float](residueScratchDims(r, books))
    val maxPass = 8
    var pass = 0
    while (pass < maxPass) {
      var pc = 0
      while (pc < partitions) {
        if (pass == 0) {
          var j = 0
          while (j < ch) {
            if (!doNotDecode(j)) {
              var temp = cb.decodeScalar(br)
              if (temp < 0) { br.eop = true; temp = 0 }
              var i = classwords - 1
              while (i >= 0) {
                classif(j)(pc + i) = temp % r.classifications
                temp /= r.classifications
                i -= 1
              }
            }
            j += 1
          }
        }
        var w = 0
        while (w < classwords && pc < partitions) {
          var j = 0
          while (j < ch) {
            if (!doNotDecode(j)) {
              val cls = classif(j)(pc)
              val bk = if (cls < r.books.length) r.books(cls)(pass) else -1
              if (bk >= 0) {
                if (bk >= books.length) sys.error("vorbis: residue book id")
                val vb = books(bk)
                if (vb.lookup == null) sys.error("vorbis: residue book has no lookup")
                val offset = actualBegin + pc * psize
                if (r.resType == 0) {
                  // format 0: vectors stride across the partition
                  val step = psize / vb.dims
                  var s = 0
                  while (s < step && !br.eop) {
                    if (vb.decodeVq(br, vqTmp)) {
                      var k = 0
                      while (k < vb.dims) {
                        vectors(j)(offset + s + k * step) += vqTmp(k)
                        k += 1
                      }
                    }
                    s += 1
                  }
                } else {
                  // format 1 (and 2 via interleave): contiguous
                  var done = 0
                  while (done < psize && !br.eop) {
                    if (vb.decodeVq(br, vqTmp)) {
                      var k = 0
                      while (k < vb.dims && done < psize) {
                        vectors(j)(offset + done) += vqTmp(k)
                        k += 1
                        done += 1
                      }
                    } else done = psize
                  }
                }
              }
            }
            j += 1
          }
          pc += 1
          w += 1
        }
        if (br.eop) return
      }
      pass += 1
    }
  }

  /** Residue decode dispatch: type 2 interleaves all channels into
   * one long vector, decoded as type 1, then deinterleaved. */
  private def decodeResidue(br: Br, r: Residue, books: Array[Codebook],
      out: Array[Array[Float]], n2: Int, doNotDecode: Array[Boolean]): Unit = {
    if (r.resType == 2) {
      if (doNotDecode.forall(identity)) return
      val ch = out.length
      val inter = Array(new Array[Float](n2 * ch))
      decodeResidueInner(br, r.copy(resType = 1), books, inter, n2 * ch, Array(false))
      var i = 0
      while (i < n2) {
        var j = 0
        while (j < ch) {
          out(j)(i) = inter(0)(i * ch + j)
          j += 1
        }
        i += 1
      }
    } else decodeResidueInner(br, r, books, out, n2, doNotDecode)
  }

  // ------------------------------------------------------- transform
  /** IMDCT via one N-point complex FFT, derived mechanically from
   * the spec's formula y[j] = Σ_k X[k]·cos(2π/N·(j+0.5+N/4)·(k+0.5)):
   * load Y[k] = X[k]·i^k·e^{iπk/N}, inverse-DFT, post-rotate by
   * e^{iπ(j+0.5+N/4)/N}. Pinned against the direct formula in
   * VorbisSpec — no transcribed twiddle schedule to mistrust. */
  private[ops] def imdct(spec: Array[Double], n: Int): Array[Double] = {
    val n2 = n / 2
    val re = new Array[Double](n)
    val im = new Array[Double](n)
    var k = 0
    while (k < n2) {
      val ang = math.Pi * k / n + math.Pi * k / 2.0 // e^{iπk/N} · i^k
      re(k) = spec(k) * math.cos(ang)
      im(k) = spec(k) * math.sin(ang)
      k += 1
    }
    // inverse DFT (sum form) via the forward FFT: conj → fft → conj
    var i = 0
    while (i < n) { im(i) = -im(i); i += 1 }
    AudioFp.fft(re, im)
    val out = new Array[Double](n)
    var j = 0
    while (j < n) {
      val ang = math.Pi * (j + 0.5 + n / 4.0) / n
      // Re{ e^{iang·…} · conj(Z[j]) } with Z from the conjugated FFT
      out(j) = re(j) * math.cos(ang) + im(j) * math.sin(ang)
      j += 1
    }
    out
  }

  /** Vorbis window slope value: sin(π/2 · sin²((i+0.5)/n · π/2)). */
  private def slope(i: Int, n: Int): Double = {
    val s = math.sin((i + 0.5) / n * math.Pi / 2.0)
    math.sin(math.Pi / 2.0 * s * s)
  }

  /** The block's window with lap slopes per the prev/next flags
   * (short slopes centered at the quarter points of a long block).
   * private[graft]: the encoder direction shares the same window so
   * analysis and synthesis lapping cancel exactly. */
  private[graft] def window(n: Int, prevShortN: Int, nextShortN: Int,
      prevFlag: Boolean, nextFlag: Boolean): Array[Double] = {
    val w = new Array[Double](n)
    val leftN = if (prevFlag) n / 2 else prevShortN / 2
    val leftStart = if (prevFlag) 0 else n / 4 - prevShortN / 4
    val rightN = if (nextFlag) n / 2 else nextShortN / 2
    val rightStart = if (nextFlag) n / 2 else 3 * n / 4 - nextShortN / 4
    var i = 0
    while (i < n) {
      w(i) =
        if (i < leftStart) 0.0
        else if (i < leftStart + leftN) slope(i - leftStart, leftN)
        else if (i < rightStart) 1.0
        else if (i < rightStart + rightN) slope(rightN - 1 - (i - rightStart), rightN)
        else 0.0
      i += 1
    }
    w
  }

  // ------------------------------------------------------- containers
  /** Ogg packet reassembly for ONE logical stream: pick the serial
   * whose BOS packet starts with the Vorbis id header, concatenate
   * lacing segments (255 = continue, spanning pages via the
   * continued-packet flag). Returns (packets, lastGranule). */
  private[ops] def oggPackets(b: Array[Byte]): (Seq[Array[Byte]], Long) = {
    val pages = Multimodal.AvHeaders.oggPages(b)
    if (pages.isEmpty) return (Nil, -1L)
    // the stream SERIAL lives at page offset 14 (oggPages' first
    // tuple slot is the page sequence, not the serial)
    def serialOf(off: Int): Long =
      (0 until 4).map(k => (b(off + 14 + k) & 0xffL) << (8 * k)).sum
    // the Vorbis stream's serial: a BOS page whose body starts \x01vorbis
    val serial = pages.collectFirst {
      case (_, off, _, _, ht) if (ht & 2) != 0 && {
        val nSegs = b(off + 26) & 0xff
        val body = off + 27 + nSegs
        body + 7 <= b.length && (b(body) & 0xff) == 1 &&
          Multimodal.AvHeaders.magic(b, body + 1, "vorbis")
      } => serialOf(off)
    }.getOrElse(return (Nil, -1L))
    val packets = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val cur = new java.io.ByteArrayOutputStream()
    var open = false
    var lastGranule = -1L
    for ((_, off, _, granule, ht) <- pages if serialOf(off) == serial) {
      val nSegs = b(off + 26) & 0xff
      var p = off + 27 + nSegs
      // a page that does NOT continue a packet while one is open
      // means the open packet was cut: drop it (spec tolerance);
      // a page that DOES continue with nothing open carries an
      // orphan tail: skip its leading segment run
      var skipOrphan = (ht & 1) != 0 && !open
      if ((ht & 1) == 0 && open) { cur.reset(); open = false }
      var s = 0
      var completedOnPage = false
      while (s < nSegs) {
        val lace = b(off + 27 + s) & 0xff
        if (skipOrphan) {
          if (lace < 255) skipOrphan = false
        } else {
          cur.write(b, p, lace)
          open = true
          if (lace < 255) {
            if (cur.size > 0) { packets += cur.toByteArray; completedOnPage = true }
            cur.reset()
            open = false
          }
        }
        p += lace
        s += 1
      }
      if (completedOnPage && granule >= 0) lastGranule = granule
    }
    (packets.toSeq, lastGranule)
  }

  // ----------------------------------------------------------- setup
  private final case class Mapping(
      submaps: Int,
      couplingMag: Array[Int],
      couplingAng: Array[Int],
      mux: Array[Int],
      submapFloor: Array[Int],
      submapResidue: Array[Int])

  private final case class Setup(
      channels: Int,
      sampleRate: Int,
      blocksizes: Array[Int],
      books: Array[Codebook],
      floors: Array[Floor1], // floor0 slots are null (declared seam)
      residues: Array[Residue],
      mappings: Array[Mapping],
      modeBlockflag: Array[Boolean],
      modeMapping: Array[Int])

  private def decodeImpl(b: Array[Byte]): Option[Pcm] = {
    if (b == null || b.length < 58) return None
    val (packets, lastGranule) = oggPackets(b)
    decodePackets(packets, lastGranule)
  }

  /** Decode from raw Vorbis PACKETS — the container-independent core
   * (round 20): the Ogg path reassembles packets from page lacing;
   * the WebM path feeds CodecPrivate's three Xiph-laced headers plus
   * the audio track's block payloads. `clampSamples` is the
   * authoritative per-channel sample count (Ogg: the last granule;
   * WebM: derived from Segment duration), < 0 for no tail clamp.
   * Structural errors propagate — callers on untrusted bytes wrap
   * via [[decode]]/[[decodePacketsSafe]]. */
  private[graft] def decodePacketsSafe(packets: Seq[Array[Byte]],
      clampSamples: Long): Option[Pcm] =
    try decodePackets(packets, clampSamples)
    catch { case _: RuntimeException => None }

  private[graft] def decodePackets(packets: Seq[Array[Byte]],
      lastGranule: Long): Option[Pcm] = {
    if (packets.size < 3) return None
    // --- identification header
    val id = packets.head
    if (id.length < 30 || (id(0) & 0xff) != 1 ||
      !Multimodal.AvHeaders.magic(id, 1, "vorbis")) return None
    val idBr = new Br(java.util.Arrays.copyOfRange(id, 7, id.length))
    if (idBr.readLong(32) != 0L) return None // vorbis_version
    val channels = idBr.read(8)
    val sampleRate = idBr.readLong(32).toInt
    idBr.readLong(32); idBr.readLong(32); idBr.readLong(32) // bitrates
    val bs0 = 1 << idBr.read(4)
    val bs1 = 1 << idBr.read(4)
    if (channels <= 0 || channels > 8 || sampleRate <= 0 ||
      bs0 < 64 || bs1 < bs0 || bs1 > 8192 || idBr.bit1() != 1) return None
    // --- comment header (packet 2) is skipped entirely
    if (packets(1).isEmpty || (packets(1)(0) & 0xff) != 3) return None
    // --- setup header
    val su = packets(2)
    if (su.length < 7 || (su(0) & 0xff) != 5 ||
      !Multimodal.AvHeaders.magic(su, 1, "vorbis")) return None
    val br = new Br(java.util.Arrays.copyOfRange(su, 7, su.length))
    val budget = new SetupBudget
    val books = Array.fill(br.read(8) + 1)(readCodebook(br, budget))
    // time-domain transforms: placeholders, must read as zero
    val timeCount = br.read(6) + 1
    var i = 0
    while (i < timeCount) {
      if (br.read(16) != 0) sys.error("vorbis: nonzero time transform")
      i += 1
    }
    val floorCount = br.read(6) + 1
    val floors = new Array[Floor1](floorCount)
    i = 0
    while (i < floorCount) {
      br.read(16) match {
        case 1 => floors(i) = readFloor1(br)
        case 0 => sys.error("vorbis: floor type 0 (declared seam)")
        case _ => sys.error("vorbis: bad floor type")
      }
      i += 1
    }
    val residueCount = br.read(6) + 1
    val residues = new Array[Residue](residueCount)
    i = 0
    while (i < residueCount) {
      val t = br.read(16)
      if (t > 2) sys.error("vorbis: bad residue type")
      residues(i) = readResidue(t, br)
      i += 1
    }
    val mappingCount = br.read(6) + 1
    val mappings = new Array[Mapping](mappingCount)
    i = 0
    while (i < mappingCount) {
      if (br.read(16) != 0) sys.error("vorbis: bad mapping type")
      val submaps = if (br.bit1() == 1) br.read(4) + 1 else 1
      var mags = Array.empty[Int]
      var angs = Array.empty[Int]
      if (br.bit1() == 1) {
        val steps = br.read(8) + 1
        mags = new Array[Int](steps)
        angs = new Array[Int](steps)
        var s = 0
        while (s < steps) {
          mags(s) = br.read(ilog(channels - 1))
          angs(s) = br.read(ilog(channels - 1))
          if (mags(s) == angs(s) || mags(s) >= channels || angs(s) >= channels)
            sys.error("vorbis: bad coupling step")
          s += 1
        }
      }
      if (br.read(2) != 0) sys.error("vorbis: mapping reserved bits")
      val mux = new Array[Int](channels)
      if (submaps > 1) {
        var c = 0
        while (c < channels) {
          mux(c) = br.read(4)
          if (mux(c) >= submaps) sys.error("vorbis: bad mux")
          c += 1
        }
      }
      val sFloor = new Array[Int](submaps)
      val sRes = new Array[Int](submaps)
      var s = 0
      while (s < submaps) {
        br.read(8) // unused time config
        sFloor(s) = br.read(8)
        sRes(s) = br.read(8)
        if (sFloor(s) >= floorCount || sRes(s) >= residueCount)
          sys.error("vorbis: submap ids")
        s += 1
      }
      mappings(i) = Mapping(submaps, mags, angs, mux, sFloor, sRes)
      i += 1
    }
    val modeCount = br.read(6) + 1
    val modeBlockflag = new Array[Boolean](modeCount)
    val modeMapping = new Array[Int](modeCount)
    i = 0
    while (i < modeCount) {
      modeBlockflag(i) = br.bit1() == 1
      if (br.read(16) != 0 || br.read(16) != 0) sys.error("vorbis: mode transform")
      modeMapping(i) = br.read(8)
      if (modeMapping(i) >= mappingCount) sys.error("vorbis: mode mapping id")
      i += 1
    }
    if (br.bit1() != 1 || br.eop) sys.error("vorbis: setup framing")
    val setup = Setup(channels, sampleRate, Array(bs0, bs1), books,
      floors, residues, mappings, modeBlockflag, modeMapping)
    decodeAudio(setup, packets.drop(3), lastGranule)
  }

  // ----------------------------------------------------- audio loop
  private def decodeAudio(st: Setup, audio: Seq[Array[Byte]],
      lastGranule: Long): Option[Pcm] = {
    val ch = st.channels
    val out = Array.fill(ch)(new scala.collection.mutable.ArrayBuffer[Float]())
    var lap: Array[Array[Double]] = null // prev block's windowed right half
    var prevN = 0
    val windowCache = scala.collection.mutable.Map.empty[(Int, Boolean, Boolean), Array[Double]]
    var emitted = 0L
    // the cap bounds TOTAL floats across channels (an 8-channel
    // hostile stream must not 8x the budget)
    for (pk <- audio if emitted * ch < MaxSamples) {
      val br = new Br(pk)
      if (br.bit1() == 0 && !br.eop) {
        val mode = br.read(ilog(st.modeBlockflag.length - 1))
        if (mode < st.modeBlockflag.length) {
          val long = st.modeBlockflag(mode)
          val n = if (long) st.blocksizes(1) else st.blocksizes(0)
          val n2 = n / 2
          // window flags are read for EVERY long block (even when
          // the two blocksizes are equal, in which case the slopes
          // coincide with the full-width window)
          var prevFlag = true
          var nextFlag = true
          if (long) {
            prevFlag = br.bit1() == 1
            nextFlag = br.bit1() == 1
          }
          val mapping = st.mappings(st.modeMapping(mode))
          // floor curves
          val floorCurve = Array.ofDim[Float](ch, n2)
          val audible = new Array[Boolean](ch)
          var c = 0
          while (c < ch) {
            val f = st.floors(mapping.submapFloor(mapping.mux(c)))
            audible(c) = decodeFloor1Curve(br, f, st.books, n2, floorCurve(c))
            c += 1
          }
          // nonzero propagation through coupling
          val nonzero = audible.clone()
          var s = 0
          while (s < mapping.couplingMag.length) {
            if (nonzero(mapping.couplingMag(s)) || nonzero(mapping.couplingAng(s))) {
              nonzero(mapping.couplingMag(s)) = true
              nonzero(mapping.couplingAng(s)) = true
            }
            s += 1
          }
          // residue per submap
          val residueVec = Array.ofDim[Float](ch, n2)
          var sm = 0
          while (sm < mapping.submaps) {
            val chIdx = (0 until ch).filter(mapping.mux(_) == sm)
            val vecs = chIdx.map(residueVec(_)).toArray
            val dnd = chIdx.map(!nonzero(_)).toArray
            decodeResidue(br, st.residues(mapping.submapResidue(sm)), st.books,
              vecs, n2, dnd)
            sm += 1
          }
          // inverse coupling, last step first
          s = mapping.couplingMag.length - 1
          while (s >= 0) {
            val m = residueVec(mapping.couplingMag(s))
            val a = residueVec(mapping.couplingAng(s))
            var i = 0
            while (i < n2) {
              val mv = m(i)
              val av = a(i)
              if (mv > 0) {
                if (av > 0) { a(i) = mv - av }
                else { a(i) = mv; m(i) = mv + av }
              } else {
                if (av > 0) { a(i) = mv + av }
                else { a(i) = mv; m(i) = mv - av }
              }
              i += 1
            }
            s -= 1
          }
          // dot product + IMDCT + window
          val w = windowCache.getOrElseUpdate((n, prevFlag, nextFlag),
            window(n, st.blocksizes(0), st.blocksizes(0), prevFlag, nextFlag))
          val windowed = new Array[Array[Double]](ch)
          c = 0
          while (c < ch) {
            val spec = new Array[Double](n2)
            if (nonzero(c) && audible(c)) {
              var i = 0
              while (i < n2) { spec(i) = floorCurve(c)(i).toDouble * residueVec(c)(i); i += 1 }
            } else if (nonzero(c)) {
              // residue decoded (coupling partner) but floor silent:
              // spectrum is zero — the floor gates the channel
            }
            val t = imdct(spec, n)
            var i = 0
            while (i < n) { t(i) *= w(i); i += 1 }
            windowed(c) = t
            c += 1
          }
          // overlap-add lap logic (slope widths match by construction)
          if (lap == null) {
            lap = Array.tabulate(ch)(c0 =>
              java.util.Arrays.copyOfRange(windowed(c0), n2, n))
            prevN = n
          } else {
            val emitLen = prevN / 4 + n / 4
            val offset = prevN / 4 - n / 4
            c = 0
            while (c < ch) {
              val seg = new Array[Double](emitLen)
              val lb = lap(c)
              var i = 0
              while (i < math.min(lb.length, emitLen)) { seg(i) = lb(i); i += 1 }
              var j2 = 0
              while (j2 < n2) {
                val pos = offset + j2
                if (pos >= 0 && pos < emitLen) seg(pos) += windowed(c)(j2)
                j2 += 1
              }
              val buf = out(c)
              i = 0
              while (i < emitLen) { buf += seg(i).toFloat; i += 1 }
              // new lap: current right half plus any prev leftover —
              // on a long→short transition the leftover extends past
              // the short lap, but the long block's right slope ended
              // exactly at the short block's edge, so those samples
              // are zero by window construction (bounded add)
              val nl = java.util.Arrays.copyOfRange(windowed(c), n2, n)
              i = emitLen
              while (i < lb.length && i - emitLen < nl.length) {
                nl(i - emitLen) += lb(i)
                i += 1
              }
              lap(c) = nl
              c += 1
            }
            emitted += emitLen
            prevN = n
          }
        }
      }
    }
    if (out(0).isEmpty) return None
    var total = out(0).length
    if (lastGranule >= 0 && lastGranule < total) total = lastGranule.toInt
    if (total <= 0) return None
    val samples = new Array[Float](total * ch)
    var c = 0
    while (c < ch) {
      val buf = out(c)
      var i = 0
      while (i < total) { samples(i * ch + c) = buf(i); i += 1 }
      c += 1
    }
    Some(Pcm(st.sampleRate, ch, samples))
  }
}
