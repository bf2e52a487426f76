package exonspark.spark;

import java.io.IOException;
import java.io.InputStream;
import java.util.Arrays;

/**
 * The '\n'-framed lines of a stream opened with FastqSource.open, read
 * through one 64 KB buffer; the line framing of FastqSource and
 * FastaSource. A line is read without its '\n' and one trailing '\r'.
 * offset() is the position of the next unread byte in the (decompressed)
 * stream, which FastaSource compares with its range end.
 */
final class LineInput implements AutoCloseable {

  /** A growable byte buffer: the bytes b[0, len). */
  static final class Bytes {
    byte[] b = new byte[256];
    int len;

    void append(byte[] src, int from, int n) {
      if (len + n > b.length) {
        b = Arrays.copyOf(b, Math.max(len + n, b.length * 2));
      }
      System.arraycopy(src, from, b, len, n);
      len += n;
    }
  }

  private final InputStream in;
  private final byte[] buf = new byte[1 << 16];
  private int pos;
  private int lim;
  private long off;
  private boolean eof;

  /** in null reads as an empty stream (FastqSource.open of an empty file). */
  LineInput(InputStream in) {
    this.in = in;
    this.eof = in == null;
  }

  long offset() {
    return off;
  }

  /** Skips n bytes; call before the first read. A shorter stream reads as ended. */
  void skip(long n) throws IOException {
    long left = n;
    while (left > 0 && !eof) {
      long k = in.skip(left);
      if (k <= 0) {
        eof = true;
      } else {
        left -= k;
      }
    }
    off = n - left;
  }

  /** The next byte (0..255) without consuming it; -1 at the end of input. */
  int peek() throws IOException {
    if (pos >= lim && !fill()) {
      return -1;
    }
    return buf[pos] & 0xff;
  }

  /**
   * Reads the next line and appends it to dst, or skips it when dst is
   * null. Returns the line's length without its '\n' and one trailing
   * '\r', or -1 at the end of input with nothing read.
   */
  long readLine(Bytes dst) throws IOException {
    long n = 0;
    boolean any = false;
    byte last = 0;
    while (pos < lim || fill()) {
      any = true;
      int e = pos;
      while (e < lim && buf[e] != '\n') {
        e++;
      }
      if (e > pos) {
        last = buf[e - 1];
        n += e - pos;
        if (dst != null) {
          dst.append(buf, pos, e - pos);
        }
      }
      boolean nl = e < lim;
      int next = nl ? e + 1 : e;
      off += next - pos;
      pos = next;
      if (nl) {
        break;
      }
    }
    if (!any) {
      return -1;
    }
    if (n > 0 && last == '\r') {
      n--;
      if (dst != null) {
        dst.len--;
      }
    }
    return n;
  }

  @Override
  public void close() throws IOException {
    if (in != null) {
      in.close();
    }
  }

  private boolean fill() throws IOException {
    if (eof) {
      return false;
    }
    int got = in.read(buf, 0, buf.length);
    while (got == 0) {
      got = in.read(buf, 0, buf.length);
    }
    if (got < 0) {
      eof = true;
      return false;
    }
    pos = 0;
    lim = got;
    return true;
  }

  /**
   * True when b[from, to) is well-formed UTF-8 (no overlong forms, no
   * surrogates, nothing above U+10FFFF): the check the Python readers'
   * Arrow string cast makes.
   */
  static boolean isUtf8(byte[] b, int from, int to) {
    int i = from;
    while (i < to) {
      int c = b[i];
      if (c >= 0) {
        i++;
        continue;
      }
      c &= 0xff;
      int n;
      int lo = 0x80;
      int hi = 0xbf;
      if (c >= 0xc2 && c <= 0xdf) {
        n = 1;
      } else if (c >= 0xe0 && c <= 0xef) {
        n = 2;
        lo = c == 0xe0 ? 0xa0 : lo;
        hi = c == 0xed ? 0x9f : hi;
      } else if (c >= 0xf0 && c <= 0xf4) {
        n = 3;
        lo = c == 0xf0 ? 0x90 : lo;
        hi = c == 0xf4 ? 0x8f : hi;
      } else {
        return false;
      }
      if (to - i <= n) {
        return false;
      }
      int c1 = b[i + 1] & 0xff;
      if (c1 < lo || c1 > hi) {
        return false;
      }
      for (int k = 2; k <= n; k++) {
        if ((b[i + k] & 0xc0) != 0x80) {
          return false;
        }
      }
      i += n + 1;
    }
    return true;
  }
}
