package sparkgraft;

/**
 * The replication fast path's payload check: {@link #walk} returns the
 * span of the record's {@code id} string within a Confluent-framed value,
 * packed as {@code start << 32 | end} (byte offsets into the value, the
 * span includes the string's length prefix), or -1 when it declines the
 * row. {@link GraftSink} calls it on each row of its task loop.
 *
 * <p>It vouches for a row only if re-encoding the decoded datum would give
 * the payload back byte for byte: every varint is the shortest encoding of
 * a value below 2**64 (at most 10 bytes), lengths and indexes are
 * non-negative and inside the payload, strings are strict UTF-8 (as
 * Python's {@code bytes.decode} reads it), booleans are 0 or 1, union and
 * enum indexes are in range, no float or double is NaN, and the payload
 * ends exactly where the record does. A declined row is no error, only one
 * it does not vouch for: the caller decodes it in full.
 *
 * <p>{@code program} is compiled in Python from the writer schemas
 * ({@code avro_codec.compile_walker}): for each covered schema id,
 * {@code [id:int32][length:int32][ops]}, big-endian. An op is one opcode
 * byte and its operands: {@code FIXED size:int32}, {@code ENUM
 * symbols:int32}, {@code RECORD fields:int32} followed by each field's op,
 * {@code UNION branches:int32} followed by each branch as
 * {@code [length:int32][op]}; the others take no operands.
 */
final class GraftWalk {
  static final byte NULL = 0, BOOLEAN = 1, LONG = 2, FLOAT = 3, DOUBLE = 4, BYTES = 5,
      STRING = 6, FIXED = 7, ENUM = 8, UNION = 9, RECORD = 10, ID = 11;

  private GraftWalk() {}

  /** The id span of {@code value} under {@code program}, or -1 to decline it. */
  static long walk(byte[] value, byte[] program) {
    if (value == null || value.length < 5 || value[0] != 0) {
      return -1L;
    }
    int sid = int32(value, 1);
    for (int at = 0; at < program.length; at += 8 + int32(program, at + 4)) {
      if (int32(program, at) == sid) {
        return new Walk(value, program).run(at + 8);
      }
    }
    return -1L;
  }

  static int int32(byte[] b, int at) {
    return (b[at] & 0xFF) << 24 | (b[at + 1] & 0xFF) << 16 | (b[at + 2] & 0xFF) << 8
        | (b[at + 3] & 0xFF);
  }

  /** One row's walk: a read position in the value, the id span found. */
  static final class Walk {
    final byte[] v;
    final byte[] ops;
    int pos = 5;
    int idStart = -1;
    int idEnd = -1;
    long num; // the last varint read

    Walk(byte[] v, byte[] ops) {
      this.v = v;
      this.ops = ops;
    }

    long run(int pc) {
      return op(pc) >= 0 && pos == v.length && idStart >= 0 ? (long) idStart << 32 | idEnd : -1L;
    }

    /** Walks the value of the op at {@code pc}; the pc after the op, or -1 to decline. */
    int op(int pc) {
      switch (ops[pc]) {
        case NULL:
          return pc + 1;
        case BOOLEAN:
          if (pos >= v.length || (v[pos] & 0xFF) > 1) {
            return -1;
          }
          pos++;
          return pc + 1;
        case LONG:
          return varint() ? pc + 1 : -1;
        case FLOAT: {
          if (v.length - pos < 4) {
            return -1;
          }
          int bits = (int) littleEndian(4);
          return Float.isNaN(Float.intBitsToFloat(bits)) ? -1 : pc + 1;
        }
        case DOUBLE: {
          if (v.length - pos < 8) {
            return -1;
          }
          long bits = littleEndian(8);
          return Double.isNaN(Double.longBitsToDouble(bits)) ? -1 : pc + 1;
        }
        case BYTES:
          return span() ? pc + 1 : -1;
        case STRING:
        case ID: {
          int start = pos;
          if (!span() || !utf8(v, pos - (int) num, pos)) {
            return -1;
          }
          if (ops[pc] == ID) {
            idStart = start;
            idEnd = pos;
          }
          return pc + 1;
        }
        case FIXED: {
          int size = int32(ops, pc + 1);
          if (v.length - pos < size) {
            return -1; // run() would decline it too; this keeps pos from overflowing
          }
          pos += size;
          return pc + 5;
        }
        case ENUM:
          return count() && num < int32(ops, pc + 1) ? pc + 5 : -1;
        case UNION: {
          int n = int32(ops, pc + 1);
          if (!count() || num >= n) {
            return -1;
          }
          int branch = (int) num;
          int at = pc + 5;
          for (int i = 0; i < n; i++) {
            if (i == branch && op(at + 4) < 0) {
              return -1;
            }
            at += 4 + int32(ops, at);
          }
          return at;
        }
        case RECORD: {
          int n = int32(ops, pc + 1);
          int at = pc + 5;
          for (int i = 0; i < n && at >= 0; i++) {
            at = op(at);
          }
          return at;
        }
        default:
          throw new IllegalArgumentException("bad walker opcode " + ops[pc]);
      }
    }

    /**
     * Reads one varint into {@code num}: false unless it is the shortest
     * encoding of a value below 2**64 that ends inside the value.
     */
    boolean varint() {
      long acc = 0;
      for (int k = 0; k < 10; k++) {
        if (pos >= v.length) {
          return false;
        }
        int b = v[pos++] & 0xFF;
        if (k == 9 && b > 1) {
          return false; // 2**64 or more
        }
        acc |= (long) (b & 0x7F) << (7 * k);
        if (b < 0x80) {
          num = acc;
          return k == 0 || b != 0; // a last byte of 0: not the shortest
        }
      }
      return false; // no end within 10 bytes
    }

    /** A zigzag long that must not be negative (a length or an index), into {@code num}. */
    boolean count() {
      if (!varint() || (num & 1) != 0) {
        return false;
      }
      num >>>= 1;
      return true;
    }

    /** A length-prefixed span inside the value; {@code num} is left as its length. */
    boolean span() {
      if (!count() || num > v.length - pos) {
        return false;
      }
      pos += (int) num;
      return true;
    }

    long littleEndian(int size) {
      long bits = 0;
      for (int i = size - 1; i >= 0; i--) {
        bits = bits << 8 | (v[pos + i] & 0xFF);
      }
      pos += size;
      return bits;
    }
  }

  /**
   * Strict UTF-8 over {@code b[i:end]}: no overlong forms, no surrogates,
   * nothing above U+10FFFF, no truncated sequence.
   */
  static boolean utf8(byte[] b, int i, int end) {
    while (i < end) {
      int c = b[i++] & 0xFF;
      if (c < 0x80) {
        continue;
      }
      int lo = 0x80, hi = 0xBF, more;
      if (c >= 0xC2 && c <= 0xDF) {
        more = 1;
      } else if (c >= 0xE0 && c <= 0xEF) {
        more = 2;
        if (c == 0xE0) {
          lo = 0xA0; // overlong
        } else if (c == 0xED) {
          hi = 0x9F; // surrogates
        }
      } else if (c >= 0xF0 && c <= 0xF4) {
        more = 3;
        if (c == 0xF0) {
          lo = 0x90; // overlong
        } else if (c == 0xF4) {
          hi = 0x8F; // above U+10FFFF
        }
      } else {
        return false;
      }
      if (end - i < more) {
        return false;
      }
      int second = b[i++] & 0xFF;
      if (second < lo || second > hi) {
        return false;
      }
      for (int k = 1; k < more; k++) {
        if ((b[i++] & 0xC0) != 0x80) {
          return false;
        }
      }
    }
    return true;
  }
}
