package graft.io

import java.io.{BufferedInputStream, DataInputStream, EOFException, FileInputStream, FileOutputStream, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.DriverGather

/** Pure-JVM pickle source and sink — reference
  * `reader/binary/PickleReader.py:20-34` (`pickle.load` → StructuredBlob) and
  * `writer/binary/PickleWriter.py:20-27` (`pickle.dump`). The reference's
  * pickle surface is *container blobs* (nested dict / list / scalar
  * "StructuredBlob"s, `util/filesystem.py:285-295,350-365`), not arbitrary
  * class instances — this codec implements exactly that contract against the
  * publicly documented pickle protocol (CPython `pickletools` opcode
  * reference, protocols 0–5).
  *
  * Read side: all container/scalar opcodes of protocols 0–5, including the
  * MARK/memo machinery, framing, and the three bootstrap REDUCE forms CPython
  * itself emits for plain data at old protocols (`_codecs.encode` for bytes,
  * `builtins.set`/`frozenset` for sets, `builtins.bytearray`). Any other
  * GLOBAL/STACK_GLOBAL/REDUCE — i.e. a real class-instance pickle — fails
  * loudly: refusing to execute arbitrary reduce constructors is both the
  * reference's de-facto data contract and the safe default for untrusted
  * bytes (pickle docs warn `load` of class pickles executes code; a data
  * engine must not).
  *
  * Write side: protocol 4 (frameless — FRAME is advisory for readers),
  * emitting lists for any `Seq`, dicts for `Map` (insertion order preserved,
  * like Python 3.7+), sets for `Set`. No memo table: blobs are trees here, so
  * repeated values duplicate bytes instead of back-referencing — valid pickle,
  * simpler stream. Verified against CPython `pickle.loads` (fixture-pinned in
  * PickleSpec golden tests).
  *
  * Value model (Scala ↔ Python): null↔None, Boolean↔bool, Long/BigInt↔int,
  * Double↔float, String↔str, Array[Byte]↔bytes, Seq↔list (tuples *read* as
  * immutable Seq, always written back as lists), Map↔dict, Set↔set.
  *
  * Scale note: pickle is a *driver-local interchange* format, exactly as in
  * the reference (its reader is a single-file `pickle.load`). Reads
  * materialize on the driver and parallelize out; the records sink collects
  * under a documented ceiling. The 100 TB path is parquet — this exists so a
  * bears user's config/artifact/small-table pickles keep working.
  */
object Pickle {

  // ------------------------------------------------------------------ opcodes

  private object Op {
    val MARK = '('.toInt; val STOP = '.'.toInt; val POP = '0'.toInt
    val POP_MARK = '1'.toInt; val DUP = '2'.toInt
    val FLOAT = 'F'.toInt; val INT = 'I'.toInt; val BININT = 'J'.toInt
    val BININT1 = 'K'.toInt; val LONG = 'L'.toInt; val BININT2 = 'M'.toInt
    val NONE = 'N'.toInt; val PERSID = 'P'.toInt; val BINPERSID = 'Q'.toInt
    val REDUCE = 'R'.toInt; val STRING = 'S'.toInt; val BINSTRING = 'T'.toInt
    val SHORT_BINSTRING = 'U'.toInt; val UNICODE = 'V'.toInt
    val BINUNICODE = 'X'.toInt; val APPEND = 'a'.toInt; val BUILD = 'b'.toInt
    val GLOBAL = 'c'.toInt; val DICT = 'd'.toInt; val EMPTY_DICT = '}'.toInt
    val APPENDS = 'e'.toInt; val GET = 'g'.toInt; val BINGET = 'h'.toInt
    val INST = 'i'.toInt; val LONG_BINGET = 'j'.toInt; val LIST = 'l'.toInt
    val EMPTY_LIST = ']'.toInt; val OBJ = 'o'.toInt; val PUT = 'p'.toInt
    val BINPUT = 'q'.toInt; val LONG_BINPUT = 'r'.toInt
    val SETITEM = 's'.toInt; val TUPLE = 't'.toInt; val EMPTY_TUPLE = ')'.toInt
    val SETITEMS = 'u'.toInt; val BINFLOAT = 'G'.toInt
    // protocol 2+
    val PROTO = 0x80; val NEWOBJ = 0x81; val EXT1 = 0x82; val EXT2 = 0x83
    val EXT4 = 0x84; val TUPLE1 = 0x85; val TUPLE2 = 0x86; val TUPLE3 = 0x87
    val NEWTRUE = 0x88; val NEWFALSE = 0x89; val LONG1 = 0x8a; val LONG4 = 0x8b
    // protocol 3
    val BINBYTES = 'B'.toInt; val SHORT_BINBYTES = 'C'.toInt
    // protocol 4
    val SHORT_BINUNICODE = 0x8c; val BINUNICODE8 = 0x8d; val BINBYTES8 = 0x8e
    val EMPTY_SET = 0x8f; val FROZENSET = 0x91; val ADDITEMS = 0x90
    val NEWOBJ_EX = 0x92; val STACK_GLOBAL = 0x93; val MEMOIZE = 0x94
    val FRAME = 0x95
    // protocol 5
    val BYTEARRAY8 = 0x96; val NEXT_BUFFER = 0x97; val READONLY_BUFFER = 0x98
  }

  /** Unresolved `GLOBAL`/`STACK_GLOBAL` reference; only whitelisted bootstrap
    * constructors survive to REDUCE, everything else throws at push time.
    */
  private final case class GlobalRef(module: String, name: String)

  private val BootstrapGlobals: Set[(String, String)] = Set(
    ("_codecs", "encode"),
    ("builtins", "set"), ("__builtin__", "set"),
    ("builtins", "frozenset"), ("__builtin__", "frozenset"),
    ("builtins", "bytearray"), ("__builtin__", "bytearray"))

  private object Mark // stack sentinel

  // --------------------------------------------------------------- read side

  def load(path: String): Any = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    try loads(in) finally in.close()
  }

  def loads(bytes: Array[Byte]): Any =
    loads(new DataInputStream(new java.io.ByteArrayInputStream(bytes)))

  /** Protocol-0 FLOAT lines carry `repr(float)`: CPython writes non-finite
    * values as `inf` / `-inf` / `nan`, which Java's parseDouble rejects
    * (it wants `Infinity` / `NaN`).
    */
  def parseProtocol0Float(s: String): Double = s.trim.toLowerCase match {
    case "inf" | "infinity" => Double.PositiveInfinity
    case "-inf" | "-infinity" => Double.NegativeInfinity
    case "nan" | "-nan" => Double.NaN
    case t => t.toDouble
  }

  /** Bytes in dict-KEY or set-ELEMENT position would carry `Array[Byte]`'s
    * reference equality into Scala collections: content-equal keys would
    * silently miss on lookup and sets would fail to dedupe. Refuse loudly
    * per the container-blob contract (bytes VALUES are fine — they map to
    * BinaryType). Recurses through tuples, whose Vector equality is
    * element-wise and would smuggle the same defect in as a tuple key.
    */
  private def checkKeyable(v: Any, where: String): Any = {
    v match {
      case _: Array[Byte] => throw new IllegalArgumentException(
        s"pickle: bytes object in $where position unsupported — JVM byte arrays " +
          "have reference equality, so content-equal keys/elements would silently " +
          "misbehave; re-key with str (hex/base64) on the Python side")
      // recurse through every container shape a hostile (non-CPython-
      // producible but well-formed) stream can park in key position: tuples
      // (Vector), lists (ArrayBuffer), sets, dicts — their Scala equality is
      // element-wise, so a nested Array[Byte] smuggles the same defect in
      case t: collection.Seq[_] => t.foreach(checkKeyable(_, where))
      case s: collection.Set[_] => s.foreach(checkKeyable(_, where))
      case m: collection.Map[_, _] =>
        m.foreach { case (k, x) => checkKeyable(k, where); checkKeyable(x, where) }
      case _ => ()
    }
    v
  }

  def loads(in: DataInputStream): Any = {
    val stack = mutable.ArrayBuffer.empty[Any]
    val memo = mutable.HashMap.empty[Int, Any]

    def push(v: Any): Unit = stack += v
    def pop(): Any = { val v = stack.last; stack.dropRightInPlace(1); v }
    /** Pop everything above the topmost MARK (in push order), drop the mark. */
    def popToMark(): IndexedSeq[Any] = {
      val m = stack.lastIndexOf(Mark)
      require(m >= 0, "pickle: no MARK on stack")
      val items = stack.slice(m + 1, stack.length).toIndexedSeq
      stack.dropRightInPlace(stack.length - m)
      items
    }
    def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new EOFException("pickle: EOF in line arg")
        sb.append(c.toChar); c = in.read()
      }
      sb.result()
    }
    def readN(n: Int): Array[Byte] = {
      // corrupt input can claim a multi-GB payload length. Don't gate on
      // available() — it underreports on gzip/socket/chunked streams, which
      // would spuriously reject legitimate large payloads on the public
      // loads(DataInputStream) overload. Instead read large payloads in
      // bounded chunks: a lying length hits EOF after consuming only the
      // bytes that actually exist, never pre-allocating the claimed size.
      if (n <= (1 << 20)) { val b = new Array[Byte](n); in.readFully(b); b }
      else {
        val out = new java.io.ByteArrayOutputStream(1 << 20)
        val buf = new Array[Byte](1 << 20)
        var remaining = n
        while (remaining > 0) {
          val r = in.read(buf, 0, math.min(buf.length, remaining))
          if (r < 0) throw new EOFException(
            s"pickle: EOF after ${n - remaining} of $n claimed payload bytes")
          out.write(buf, 0, r); remaining -= r
        }
        out.toByteArray
      }
    }
    def u1(): Int = in.readUnsignedByte()
    def u2(): Int = { val b = readN(2); ((b(1) & 0xff) << 8) | (b(0) & 0xff) }
    def i4(): Int = ByteBuffer.wrap(readN(4)).order(ByteOrder.LITTLE_ENDIAN).getInt
    def u4(): Long = i4().toLong & 0xffffffffL
    def u8(): Long = ByteBuffer.wrap(readN(8)).order(ByteOrder.LITTLE_ENDIAN).getLong
    def lenN(n: Long): Int = {
      require(n >= 0 && n <= Int.MaxValue, s"pickle: length $n out of JVM range")
      n.toInt
    }
    /** Two's-complement little-endian int (LONG1/LONG4 payload). */
    def decodeLong(b: Array[Byte]): Any = {
      if (b.isEmpty) 0L
      else {
        val big = BigInt(b.reverse) // BigInt wants big-endian two's complement
        if (big.isValidLong) big.toLong else big
      }
    }
    /** Protocol-0 `V` lines: raw-unicode-escape — only \\uXXXX / \\UXXXXXXXX
      * escapes decode, all other backslashes are literal.
      */
    def rawUnicodeUnescape(s: String): String = {
      val sb = new StringBuilder; var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 5 < s.length && s.charAt(i + 1) == 'u') {
          sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
        } else if (c == '\\' && i + 9 < s.length && s.charAt(i + 1) == 'U') {
          sb.appendAll(Character.toChars(Integer.parseInt(s.substring(i + 2, i + 10), 16))); i += 10
        } else { sb.append(c); i += 1 }
      }
      sb.result()
    }
    /** Protocol-0 `S` lines: repr-quoted byte string (py2 era; decoded as in
      * CPython's default `encoding='ASCII', errors='strict'`? No — we follow
      * the data contract: latin-1, matching `_codecs.encode` round-trips).
      */
    def unquoteString(s: String): String = {
      require(s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head,
        s"pickle: malformed STRING repr: $s")
      val body = s.substring(1, s.length - 1)
      val sb = new StringBuilder; var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        if (c == '\\' && i + 1 < body.length) {
          body.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '\'' => sb.append('\''); i += 2
            case '"' => sb.append('"'); i += 2
            case 'x' =>
              sb.append(Integer.parseInt(body.substring(i + 2, i + 4), 16).toChar); i += 4
            case other => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      }
      sb.result()
    }
    def applyReduce(callee: Any, args: IndexedSeq[Any]): Any = callee match {
      case GlobalRef("_codecs", "encode") =>
        // bytes at protocol <3: _codecs.encode(<latin-1 str>, 'latin1')
        val s = args.head.asInstanceOf[String]
        require(args.size < 2 || args(1) == "latin1",
          s"pickle: _codecs.encode codec ${args.lift(1)} unsupported")
        s.getBytes(StandardCharsets.ISO_8859_1)
      case GlobalRef(_, "set") =>
        mutable.LinkedHashSet.from(args.head.asInstanceOf[collection.Seq[Any]])
      case GlobalRef(_, "frozenset") =>
        mutable.LinkedHashSet.from(args.head.asInstanceOf[collection.Seq[Any]])
      case GlobalRef(_, "bytearray") =>
        if (args.isEmpty) Array.emptyByteArray
        else args.head match {
          case b: Array[Byte] => b
          case s: String => s.getBytes(StandardCharsets.ISO_8859_1)
          case other => throw new IllegalArgumentException(
            s"pickle: bytearray(${other.getClass.getSimpleName}) unsupported")
        }
      case other => throw new IllegalArgumentException(
        s"pickle: REDUCE of $other unsupported — graft reads container blobs " +
          "(StructuredBlob contract, reference PickleReader.py); class-instance " +
          "pickles are refused by design")
    }
    def rejectGlobal(module: String, name: String): GlobalRef = {
      require(BootstrapGlobals.contains((module, name)),
        s"pickle: GLOBAL $module.$name unsupported — graft reads container blobs " +
          "(StructuredBlob contract, reference PickleReader.py); class-instance " +
          "pickles are refused by design")
      GlobalRef(module, name)
    }

    var done = false
    var result: Any = null
    while (!done) {
      val op = in.read()
      if (op < 0) throw new EOFException("pickle: EOF before STOP")
      op match {
        case Op.PROTO => val v = u1(); require(v <= 5, s"pickle protocol $v > 5")
        case Op.FRAME => u8() // frame length — advisory, stream is contiguous
        case Op.STOP => result = pop(); done = true

        case Op.NONE => push(null)
        case Op.NEWTRUE => push(java.lang.Boolean.TRUE)
        case Op.NEWFALSE => push(java.lang.Boolean.FALSE)
        case Op.INT =>
          readLine() match {
            case "01" => push(java.lang.Boolean.TRUE)
            case "00" => push(java.lang.Boolean.FALSE)
            case s => push(s.toLong)
          }
        case Op.LONG =>
          val s = readLine().stripSuffix("L")
          val big = BigInt(s); push(if (big.isValidLong) big.toLong else big)
        case Op.BININT => push(i4().toLong)
        case Op.BININT1 => push(u1().toLong)
        case Op.BININT2 => push(u2().toLong)
        case Op.LONG1 => push(decodeLong(readN(u1())))
        case Op.LONG4 => push(decodeLong(readN(lenN(u4()))))
        case Op.FLOAT => push(parseProtocol0Float(readLine()))
        case Op.BINFLOAT =>
          push(java.lang.Double.longBitsToDouble(ByteBuffer.wrap(readN(8)).getLong)) // big-endian

        case Op.UNICODE => push(rawUnicodeUnescape(readLine()))
        case Op.BINUNICODE => push(new String(readN(lenN(u4())), StandardCharsets.UTF_8))
        case Op.SHORT_BINUNICODE => push(new String(readN(u1()), StandardCharsets.UTF_8))
        case Op.BINUNICODE8 => push(new String(readN(lenN(u8())), StandardCharsets.UTF_8))
        case Op.STRING => push(unquoteString(readLine()))
        case Op.BINSTRING => push(new String(readN(lenN(u4())), StandardCharsets.ISO_8859_1))
        case Op.SHORT_BINSTRING => push(new String(readN(u1()), StandardCharsets.ISO_8859_1))

        case Op.BINBYTES => push(readN(lenN(u4())))
        case Op.SHORT_BINBYTES => push(readN(u1()))
        case Op.BINBYTES8 => push(readN(lenN(u8())))
        case Op.BYTEARRAY8 => push(readN(lenN(u8())))

        case Op.MARK => push(Mark)
        case Op.POP => pop()
        case Op.POP_MARK => popToMark()
        case Op.DUP => push(stack.last)

        case Op.EMPTY_LIST => push(mutable.ArrayBuffer.empty[Any])
        case Op.LIST => push(mutable.ArrayBuffer.from(popToMark()))
        case Op.APPEND =>
          val v = pop(); stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] += v
        case Op.APPENDS =>
          val items = popToMark()
          stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] ++= items

        case Op.EMPTY_TUPLE => push(Vector.empty[Any])
        case Op.TUPLE => push(popToMark().toVector)
        case Op.TUPLE1 => val a = pop(); push(Vector(a))
        case Op.TUPLE2 => val b = pop(); val a = pop(); push(Vector(a, b))
        case Op.TUPLE3 => val c = pop(); val b = pop(); val a = pop(); push(Vector(a, b, c))

        case Op.EMPTY_DICT => push(mutable.LinkedHashMap.empty[Any, Any])
        case Op.DICT =>
          val kv = popToMark()
          val m = mutable.LinkedHashMap.empty[Any, Any]
          kv.grouped(2).foreach { p => m(checkKeyable(p(0), "dict-key")) = p(1) }
          push(m)
        case Op.SETITEM =>
          val v = pop(); val k = checkKeyable(pop(), "dict-key")
          stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]](k) = v
        case Op.SETITEMS =>
          val kv = popToMark()
          val m = stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]]
          kv.grouped(2).foreach { p => m(checkKeyable(p(0), "dict-key")) = p(1) }

        case Op.EMPTY_SET => push(mutable.LinkedHashSet.empty[Any])
        case Op.FROZENSET =>
          push(mutable.LinkedHashSet.from(popToMark().map(checkKeyable(_, "set-element"))))
        case Op.ADDITEMS =>
          val items = popToMark()
          stack.last.asInstanceOf[mutable.LinkedHashSet[Any]] ++=
            items.map(checkKeyable(_, "set-element"))

        case Op.PUT => memo(readLine().toInt) = stack.last
        case Op.BINPUT => memo(u1()) = stack.last
        case Op.LONG_BINPUT => memo(lenN(u4())) = stack.last
        case Op.MEMOIZE => memo(memo.size) = stack.last
        case Op.GET => push(memo(readLine().toInt))
        case Op.BINGET => push(memo(u1()))
        case Op.LONG_BINGET => push(memo(lenN(u4())))

        case Op.GLOBAL =>
          val module = readLine(); val name = readLine()
          push(rejectGlobal(module, name))
        case Op.STACK_GLOBAL =>
          val name = pop().asInstanceOf[String]
          val module = pop().asInstanceOf[String]
          push(rejectGlobal(module, name))
        case Op.REDUCE =>
          val args = pop().asInstanceOf[collection.Seq[Any]].toIndexedSeq
          val callee = pop()
          push(applyReduce(callee, args))

        case Op.NEWOBJ | Op.NEWOBJ_EX | Op.BUILD | Op.INST | Op.OBJ =>
          throw new IllegalArgumentException(
            f"pickle: opcode 0x$op%02x builds a class instance — unsupported by design " +
              "(container-blob contract)")
        case Op.PERSID | Op.BINPERSID | Op.EXT1 | Op.EXT2 | Op.EXT4 |
             Op.NEXT_BUFFER | Op.READONLY_BUFFER =>
          throw new IllegalArgumentException(
            f"pickle: opcode 0x$op%02x (persistent/extension/out-of-band) unsupported")
        case other =>
          throw new IllegalArgumentException(f"pickle: unknown opcode 0x$other%02x")
      }
    }
    require(stack.isEmpty, s"pickle: ${stack.size} values left on stack after STOP")
    normalize(result)
  }

  /** Freeze the mutable build containers into immutable Scala values.
    * Cycle guard: pickle can encode self-referential containers
    * (`l.append(l)`); a data blob never does, so refuse loudly instead of
    * overflowing the stack.
    */
  private def normalize(v: Any): Any = {
    val inFlight = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def go(x: Any): Any = x match {
      case c: AnyRef if (c.isInstanceOf[mutable.ArrayBuffer[_]] ||
          c.isInstanceOf[mutable.LinkedHashMap[_, _]] ||
          c.isInstanceOf[mutable.LinkedHashSet[_]] || c.isInstanceOf[Vector[_]]) &&
          !inFlight.add(c) =>
        throw new IllegalArgumentException(
          "pickle: self-referential container unsupported (container-blob contract)")
      case b: mutable.ArrayBuffer[_] =>
        val r = b.toVector.map(go); inFlight.remove(b); r
      case t: Vector[_] =>
        val r = t.map(go); inFlight.remove(t); r
      case m: mutable.LinkedHashMap[_, _] =>
        // LinkedHashMap → VectorMap preserves Python 3.7+ dict insertion order
        val r = scala.collection.immutable.VectorMap.from(
          m.iterator.map { case (k, y) => (go(k), go(y)) }.toIndexedSeq)
        inFlight.remove(m); r
      case s: mutable.LinkedHashSet[_] =>
        val r = scala.collection.immutable.ListSet.from(s.iterator.map(go).toIndexedSeq)
        inFlight.remove(s); r
      case other => other
    }
    go(v)
  }

  // -------------------------------------------------------------- write side

  def dump(value: Any, path: String): Unit = {
    val out = new java.io.BufferedOutputStream(new FileOutputStream(path))
    try { out.write(dumps(value)) } finally out.close()
  }

  def dumps(value: Any): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Op.PROTO); out.write(4)
    writeValue(out, value)
    out.write(Op.STOP)
    out.toByteArray
  }

  private def writeValue(out: java.io.ByteArrayOutputStream, v: Any): Unit = v match {
    case null => out.write(Op.NONE)
    case b: Boolean => out.write(if (b) Op.NEWTRUE else Op.NEWFALSE)
    case i: Int => writeLong(out, i.toLong)
    case l: Long => writeLong(out, l)
    case s: Short => writeLong(out, s.toLong)
    case b: Byte => writeLong(out, b.toLong)
    case big: BigInt => writeBigInt(out, big)
    case d: Double =>
      out.write(Op.BINFLOAT)
      out.write(ByteBuffer.allocate(8).putLong(java.lang.Double.doubleToRawLongBits(d)).array())
    case f: Float =>
      writeValue(out, f.toDouble)
    case s: String =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      if (b.length < 256) { out.write(Op.SHORT_BINUNICODE); out.write(b.length) }
      else { out.write(Op.BINUNICODE); writeLe4(out, b.length) }
      out.write(b, 0, b.length)
    case b: Array[Byte] =>
      if (b.length < 256) { out.write(Op.SHORT_BINBYTES); out.write(b.length) }
      else { out.write(Op.BINBYTES); writeLe4(out, b.length) }
      out.write(b, 0, b.length)
    case m: collection.Map[_, _] =>
      out.write(Op.EMPTY_DICT)
      m.iterator.grouped(1000).foreach { batch =>
        out.write(Op.MARK)
        batch.foreach { case (k, x) => writeValue(out, k); writeValue(out, x) }
        out.write(Op.SETITEMS)
      }
    case s: collection.Set[_] =>
      out.write(Op.EMPTY_SET)
      s.iterator.grouped(1000).foreach { batch =>
        out.write(Op.MARK)
        batch.foreach(writeValue(out, _))
        out.write(Op.ADDITEMS)
      }
    case xs: collection.Seq[_] =>
      out.write(Op.EMPTY_LIST)
      xs.iterator.grouped(1000).foreach { batch =>
        out.write(Op.MARK)
        batch.foreach(writeValue(out, _))
        out.write(Op.APPENDS)
      }
    case other => throw new IllegalArgumentException(
      s"pickle sink for ${other.getClass.getName} unsupported (container-blob contract)")
  }

  private def writeLong(out: java.io.ByteArrayOutputStream, l: Long): Unit = {
    if (l >= 0 && l < 256) { out.write(Op.BININT1); out.write(l.toInt) }
    else if (l >= 256 && l < 65536) {
      out.write(Op.BININT2); out.write((l & 0xff).toInt); out.write(((l >> 8) & 0xff).toInt)
    } else if (l >= Int.MinValue && l <= Int.MaxValue) {
      out.write(Op.BININT); writeLe4(out, l.toInt)
    } else writeBigInt(out, BigInt(l))
  }

  private def writeBigInt(out: java.io.ByteArrayOutputStream, big: BigInt): Unit = {
    if (big.isValidLong && big >= Int.MinValue && big <= Int.MaxValue)
      writeLong(out, big.toLong)
    else {
      val be = big.toByteArray // big-endian two's complement
      val le = be.reverse
      if (le.length < 256) { out.write(Op.LONG1); out.write(le.length) }
      else { out.write(Op.LONG4); writeLe4(out, le.length) }
      out.write(le, 0, le.length)
    }
  }

  private def writeLe4(out: java.io.ByteArrayOutputStream, v: Int): Unit =
    out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array())

  // ------------------------------------------------------- DataFrame bridge

  /** Max rows the records sink will collect to the driver — pickle is a
    * single-blob driver format (reference contract); bulk data goes to
    * parquet. Loud refusal beyond the ceiling, same policy as TF-IDF's
    * driver-vocab ceiling; [[Npz.write]] shares it.
    */
  val MaxSinkRows: Int = 1000000

  /** Read a records pickle (Python list-of-dicts, or dict-of-lists columns
    * blob) as a DataFrame. Column order = first-seen key order; types are
    * inferred from the first non-null value per column, with Long+Double
    * widening to Double.
    */
  def readRecords(spark: SparkSession, path: String): DataFrame = {
    val blob = load(path)
    // rows as ORDERED (key, value) pairs — the unpickled dicts are VectorMaps,
    // so iteration order IS Python insertion order; keep it that way
    val records: Seq[IndexedSeq[(String, Any)]] = blob match {
      case rows: Seq[_] => rows.map {
        case m: collection.Map[_, _] =>
          m.asInstanceOf[collection.Map[Any, Any]].iterator
            .map { case (k, v) => (k.toString, v) }.toIndexedSeq
        case other => throw new IllegalArgumentException(
          s"pickle records blob: expected dict rows, got ${other.getClass.getSimpleName}")
      }
      case cols: collection.Map[_, _] =>
        val cm = cols.asInstanceOf[collection.Map[Any, Any]].iterator.map {
          case (k, v: collection.Seq[_]) => (k.toString, v.toIndexedSeq)
          case (k, other) => throw new IllegalArgumentException(
            s"pickle columns blob: column $k is ${other.getClass.getSimpleName}, want list")
        }.toIndexedSeq
        val n = cm.headOption.map(_._2.size).getOrElse(0)
        cm.foreach { case (k, v) => require(v.size == n, s"pickle column $k ragged: ${v.size} vs $n") }
        (0 until n).map(i => cm.map { case (k, v) => (k, v(i)) })
      case other => throw new IllegalArgumentException(
        s"pickle blob is ${if (other == null) "None" else other.getClass.getSimpleName}; " +
          "DataFrame bridge needs list-of-dicts or dict-of-lists (use Pickle.load for raw blobs)")
    }
    // first-seen column order across all rows (rows may omit keys)
    val names = mutable.LinkedHashSet.empty[String]
    records.foreach(_.foreach { case (k, _) => names += k })
    val cols = names.toIndexedSeq
    val recordMaps: Seq[Map[String, Any]] = records.map(_.toMap)
    val fields = cols.map { c =>
      val firstNonNull = recordMaps.iterator.map(_.getOrElse(c, null)).find(_ != null)
      val tpe = inferType(c, firstNonNull, recordMaps)
      StructField(c, tpe, nullable = true)
    }
    val schema = StructType(fields)
    val rows = recordMaps.map { r =>
      Row.fromSeq(cols.zip(fields).map { case (c, f) => toSparkValue(r.getOrElse(c, null), f.dataType, c) })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, spark.sparkContext.defaultParallelism)),
      schema)
  }

  private def inferType(col: String, firstNonNull: Option[Any], records: Seq[Map[String, Any]]): DataType =
    firstNonNull match {
      case None => StringType // all-null column
      case Some(_: Long) =>
        // widen to Double if ANY row carries a float in this column
        if (records.exists(r => r.getOrElse(col, null).isInstanceOf[Double])) DoubleType else LongType
      case Some(_: Double) => DoubleType
      case Some(_: Boolean) => BooleanType
      case Some(_: String) => StringType
      case Some(_: Array[Byte]) => BinaryType
      case Some(_: BigInt) => DecimalType(38, 0)
      case Some(xs: Seq[_]) =>
        // same widening law as scalar columns: a Python [1, 2.5] list is a
        // float list regardless of element order
        val elems = records.iterator
          .flatMap(_.getOrElse(col, null) match { case s: Seq[_] => s.iterator; case _ => Iterator.empty })
          .filter(_ != null).toIndexedSeq
        val et = elems.headOption.map {
          case _: Long => if (elems.exists(_.isInstanceOf[Double])) DoubleType else LongType
          case e => inferType(col, Some(e), Nil)
        }.getOrElse(StringType)
        ArrayType(et, containsNull = true)
      case Some(other) => throw new IllegalArgumentException(
        s"pickle column $col: ${other.getClass.getSimpleName} has no DataFrame mapping " +
          "(nested dicts stay blobs — use Pickle.load)")
    }

  private def toSparkValue(v: Any, dt: DataType, col: String): Any = (v, dt) match {
    case (null, _) => null
    case (l: Long, LongType) => l
    case (l: Long, DoubleType) => l.toDouble // widened column
    case (d: Double, DoubleType) => d
    case (b: Boolean, BooleanType) => b
    case (s: String, StringType) => s
    case (b: Array[Byte], BinaryType) => b
    case (big: BigInt, DecimalType()) => new java.math.BigDecimal(big.bigInteger)
    case (xs: Seq[_], ArrayType(et, _)) => xs.map(toSparkValue(_, et, col))
    case (other, t) => throw new IllegalArgumentException(
      s"pickle column $col: ${other.getClass.getSimpleName} does not fit inferred $t " +
        "(mixed-type column — clean the blob or read raw via Pickle.load)")
  }

  /** Write a DataFrame as a records pickle (list-of-dicts, protocol 4) —
    * the reference PickleWriter's shape for tabular blobs. Driver-side
    * single-file sink with a hard row ceiling; the scale path is parquet.
    */
  def writeRecords(df: DataFrame, path: String): Unit =
    writeRecords(df, path, MaxSinkRows)

  /** Ceiling-parameterized form — package-private so the spec can exercise
    * the over-ceiling refusal path with a tiny frame against a tiny ceiling
    * (the production entry point above always passes [[MaxSinkRows]]).
    */
  private[graft] def writeRecords(df: DataFrame, path: String, maxRows: Int): Unit = {
    require(Storage.detect(path) == Storage.Local,
      s"pickle sink writes a driver-local file (got: $path)")
    val names = df.schema.fieldNames
    val rows = DriverGather.atMost(df, maxRows)(
      s"pickle sink: over $maxRows rows exceeds the driver ceiling — " +
        "pickle is a driver-interchange format; write parquet for bulk data").map { r =>
      val m = mutable.LinkedHashMap.empty[Any, Any]
      var i = 0
      while (i < names.length) { m(names(i)) = fromSparkValue(r.get(i)); i += 1 }
      m
    }
    dump(mutable.ArrayBuffer.from(rows), path)
  }

  private def fromSparkValue(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case d: java.math.BigDecimal =>
      if (d.scale() <= 0) BigInt(d.toBigIntegerExact) else d.doubleValue()
    case ts: java.sql.Timestamp => ts.toString
    case dt: java.sql.Date => dt.toString
    case xs: Seq[_] => xs.map(fromSparkValue)
    case r: Row => // struct → dict
      val m = mutable.LinkedHashMap.empty[Any, Any]
      r.schema.fieldNames.zipWithIndex.foreach { case (n, i) => m(n) = fromSparkValue(r.get(i)) }
      m
    case other => other // Long, Double, Boolean, String, Array[Byte]
  }
}
