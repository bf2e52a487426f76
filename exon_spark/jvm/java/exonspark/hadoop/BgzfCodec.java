package exonspark.hadoop;

import java.io.BufferedInputStream;
import java.io.EOFException;
import java.io.IOException;
import java.io.InputStream;
import java.io.OutputStream;
import java.util.zip.DataFormatException;
import java.util.zip.Inflater;

import org.apache.hadoop.conf.Configured;
import org.apache.hadoop.fs.Seekable;
import org.apache.hadoop.io.compress.CompressionInputStream;
import org.apache.hadoop.io.compress.CompressionOutputStream;
import org.apache.hadoop.io.compress.Compressor;
import org.apache.hadoop.io.compress.Decompressor;
import org.apache.hadoop.io.compress.SplitCompressionInputStream;
import org.apache.hadoop.io.compress.SplittableCompressionCodec;

/**
 * Splittable Hadoop codec for BGZF ("blocked gzip", the htslib container
 * used by .vcf.gz/.bed.gz/... when bgzip-compressed; suffix ".bgz" here so
 * the stock GzipCodec keeps plain ".gz").
 *
 * BGZF is a sequence of independent gzip members, each at most 64 KiB
 * uncompressed, carrying its own compressed size in a "BC" extra subfield
 * (SAM spec section 4.1, public). That makes an arbitrary byte offset
 * alignable to the next member boundary by scanning for the gzip magic and
 * validating the BC chain, which is exactly the contract Hadoop's
 * SplittableCompressionCodec + LineRecordReader need:
 *
 *  - createInputStream(in, d, start, end, BYBLOCK) aligns to the first
 *    BGZF block at offset >= start (adjustedStart);
 *  - getPos() lags one block: it reports adjustedStart while bytes of the
 *    first block are served, then blockStart+1 as the first byte of each
 *    subsequent block is delivered. CompressedSplitLineReader stops after
 *    the first line that makes pos exceed the split end, and the next
 *    split discards its first (partial) line — so every text line is
 *    emitted by exactly one split (same advertisement scheme as the
 *    stock BZip2Codec, the one other BYBLOCK codec in Hadoop).
 *
 * With this codec on io.compression.codecs, spark.read.text()/csv() over a
 * multi-GB .bgz file fans out across executors as plain byte-range splits
 * — no Python in the data path, no re-compression, no temp copies. Used by
 * the full VCF/GFF/GTF/BED text scans of exon_spark.sources.jvm_fast and
 * tabular over a .bgz that has no .tbi; an indexed file is read through
 * the DataSourceV2 readers (exonspark.spark) instead.
 *
 * Read-only: BGZF write stays in the Python sinks (createOutputStream
 * throws). CRC32 of each member is not re-verified (ISIZE is checked);
 * same trade as the JVM's built-in gzip stream default.
 */
public class BgzfCodec extends Configured implements SplittableCompressionCodec {

  @Override
  public String getDefaultExtension() {
    return ".bgz";
  }

  @Override
  public CompressionOutputStream createOutputStream(OutputStream out) {
    throw new UnsupportedOperationException("BGZF write is not supported");
  }

  @Override
  public CompressionOutputStream createOutputStream(OutputStream out, Compressor c) {
    throw new UnsupportedOperationException("BGZF write is not supported");
  }

  @Override
  public Class<? extends Compressor> getCompressorType() {
    throw new UnsupportedOperationException("BGZF write is not supported");
  }

  @Override
  public Compressor createCompressor() {
    throw new UnsupportedOperationException("BGZF write is not supported");
  }

  @Override
  public Class<? extends Decompressor> getDecompressorType() {
    return BgzfDummyDecompressor.class;
  }

  @Override
  public Decompressor createDecompressor() {
    return new BgzfDummyDecompressor();
  }

  @Override
  public CompressionInputStream createInputStream(InputStream in) throws IOException {
    return new BgzfSplitInputStream(in, 0L, Long.MAX_VALUE, READ_MODE.CONTINUOUS);
  }

  @Override
  public CompressionInputStream createInputStream(InputStream in, Decompressor d)
      throws IOException {
    return createInputStream(in);
  }

  @Override
  public SplitCompressionInputStream createInputStream(
      InputStream seekableIn, Decompressor d, long start, long end, READ_MODE mode)
      throws IOException {
    if (!(seekableIn instanceof Seekable)) {
      throw new IOException("seekableIn must be an instance of " + Seekable.class.getName());
    }
    ((Seekable) seekableIn).seek(start);
    return new BgzfSplitInputStream(seekableIn, start, end, mode);
  }

  /**
   * The decompression happens inside BgzfSplitInputStream (block-buffered
   * Inflater); CodecPool still wants a Decompressor instance to check out
   * and return, so this is an inert placeholder.
   */
  public static final class BgzfDummyDecompressor implements Decompressor {
    @Override public void setInput(byte[] b, int off, int len) {}
    @Override public boolean needsInput() { return false; }
    @Override public void setDictionary(byte[] b, int off, int len) {}
    @Override public boolean needsDictionary() { return false; }
    @Override public boolean finished() { return false; }
    @Override public int decompress(byte[] b, int off, int len) { return 0; }
    @Override public int getRemaining() { return 0; }
    @Override public void reset() {}
    @Override public void end() {}
  }

  private static final int MAX_BLOCK = 1 << 16;        // BGZF cap (BSIZE is u16)
  private static final int SCAN_WINDOW = 3 * (MAX_BLOCK + 512);

  public static final class BgzfSplitInputStream extends SplitCompressionInputStream {
    private final InputStream raw;       // the seekable file stream
    private BufferedInputStream bin;     // buffered view positioned at a block start
    private final Inflater inflater = new Inflater(true);

    private long pos;                    // advertised compressed position
    private long nextBlockStart;         // file offset of the next unread block
    private boolean firstBlock = true;
    private boolean advertisePending = false;
    private long pendingPos;
    private boolean eof = false;

    private final byte[] cbuf = new byte[MAX_BLOCK + 512];
    private final byte[] ubuf = new byte[MAX_BLOCK];
    private int ulen = 0;
    private int upos = 0;

    public BgzfSplitInputStream(InputStream in, long start, long end, READ_MODE mode)
        throws IOException {
      super(in, start, end);
      this.raw = in;
      long aligned;
      if (start == 0) {
        aligned = 0;                     // file start IS a block start
      } else {
        aligned = scanForBlock(start, end);
        if (aligned < 0) {               // no block begins in/after this split
          eof = true;
          aligned = start;
          pos = Long.MAX_VALUE;          // emit nothing
        } else {
          ((Seekable) raw).seek(aligned);
        }
      }
      setStart(aligned);
      setEnd(end);
      if (!eof) {
        pos = aligned;
      }
      nextBlockStart = aligned;
      bin = new BufferedInputStream(raw, 1 << 16);
    }

    /**
     * Find the first BGZF member at offset >= from. Reads a bounded window
     * and validates candidates structurally: gzip magic + FLG.FEXTRA, a BC
     * subfield whose BSIZE points at either EOF or another valid magic.
     * A false positive must fake 16 bytes of header AND have its implied
     * BSIZE land on another fake header — not reachable from random DEFLATE
     * payload in practice (same scan-and-validate approach as BZip2Codec's
     * block-delimiter search).
     */
    private long scanForBlock(long from, long end) throws IOException {
      byte[] w = new byte[SCAN_WINDOW];
      int have = 0;
      while (have < w.length) {
        int n = raw.read(w, have, w.length - have);
        if (n < 0) break;
        have += n;
      }
      for (int i = 0; i + 18 <= have; i++) {
        if (looksLikeBlock(w, i, have)) {
          return from + i;
        }
      }
      return -1;
    }

    private boolean looksLikeBlock(byte[] w, int i, int have) {
      int bsize = headerBsize(w, i, have);
      if (bsize < 0) {
        return false;
      }
      int next = i + bsize + 1;
      if (next == have || next > have - 4) {
        // candidate block runs to (or past) the window edge; accept only if
        // it exactly reaches EOF (short window = file tail)
        return have < SCAN_WINDOW && next == have;
      }
      return headerBsize(w, next, have) >= 0;
    }

    /** Parse a BGZF member header at w[i]; return BSIZE or -1 if invalid. */
    private int headerBsize(byte[] w, int i, int have) {
      if (i + 18 > have) {
        return -1;
      }
      if ((w[i] & 0xff) != 0x1f || (w[i + 1] & 0xff) != 0x8b
          || (w[i + 2] & 0xff) != 8 || (w[i + 3] & 0xff) != 4) {
        return -1;
      }
      int xlen = (w[i + 10] & 0xff) | ((w[i + 11] & 0xff) << 8);
      if (xlen < 6 || i + 12 + xlen > have) {
        return -1;
      }
      int p = i + 12;
      int xend = p + xlen;
      while (p + 4 <= xend) {
        int si1 = w[p] & 0xff, si2 = w[p + 1] & 0xff;
        int slen = (w[p + 2] & 0xff) | ((w[p + 3] & 0xff) << 8);
        if (si1 == 66 && si2 == 67 && slen == 2) {
          if (p + 6 > xend) {
            return -1;
          }
          int bsize = (w[p + 4] & 0xff) | ((w[p + 5] & 0xff) << 8);
          // minimum sane size: 12B header + xlen + >=2B deflate + 8B trailer
          return (bsize + 1 >= 12 + xlen + 10) ? bsize : -1;
        }
        p += 4 + slen;
      }
      return -1;
    }

    private void readFully(byte[] b, int off, int len) throws IOException {
      while (len > 0) {
        int n = bin.read(b, off, len);
        if (n < 0) {
          throw new EOFException("truncated BGZF block");
        }
        off += n;
        len -= n;
      }
    }

    /** Decompress the block at nextBlockStart into ubuf. False at EOF. */
    private boolean loadNextBlock() throws IOException {
      int b0 = bin.read();
      if (b0 < 0) {
        return false;
      }
      cbuf[0] = (byte) b0;
      readFully(cbuf, 1, 17);
      if ((cbuf[0] & 0xff) != 0x1f || (cbuf[1] & 0xff) != 0x8b
          || (cbuf[2] & 0xff) != 8 || (cbuf[3] & 0xff) != 4) {
        throw new IOException("not a BGZF block at offset " + nextBlockStart);
      }
      int xlen = (cbuf[10] & 0xff) | ((cbuf[11] & 0xff) << 8);
      if (xlen < 6 || 12 + xlen > cbuf.length) {
        throw new IOException("bad BGZF XLEN " + xlen + " at offset " + nextBlockStart);
      }
      readFully(cbuf, 18, xlen - 6);     // rest of the extra field
      int bsize = -1;
      int p = 12;
      int xend = 12 + xlen;
      while (p + 4 <= xend) {
        int si1 = cbuf[p] & 0xff, si2 = cbuf[p + 1] & 0xff;
        int slen = (cbuf[p + 2] & 0xff) | ((cbuf[p + 3] & 0xff) << 8);
        if (si1 == 66 && si2 == 67 && slen == 2 && p + 6 <= xend) {
          bsize = (cbuf[p + 4] & 0xff) | ((cbuf[p + 5] & 0xff) << 8);
          break;
        }
        p += 4 + slen;
      }
      if (bsize < 0) {
        throw new IOException("BGZF block without BC subfield at offset " + nextBlockStart);
      }
      int cdataLen = bsize + 1 - 12 - xlen - 8;
      if (cdataLen < 0 || cdataLen > cbuf.length) {
        throw new IOException("bad BGZF BSIZE " + bsize + " at offset " + nextBlockStart);
      }
      readFully(cbuf, 0, cdataLen + 8);  // CDATA + CRC32 + ISIZE
      int isize = (cbuf[cdataLen + 4] & 0xff) | ((cbuf[cdataLen + 5] & 0xff) << 8)
          | ((cbuf[cdataLen + 6] & 0xff) << 16) | ((cbuf[cdataLen + 7] & 0xff) << 24);
      if (isize < 0 || isize > MAX_BLOCK) {
        throw new IOException("bad BGZF ISIZE " + isize + " at offset " + nextBlockStart);
      }
      inflater.reset();
      inflater.setInput(cbuf, 0, cdataLen);
      int n = 0;
      try {
        while (n < isize && !inflater.finished()) {
          int got = inflater.inflate(ubuf, n, isize - n);
          if (got == 0 && inflater.needsInput()) {
            break;
          }
          n += got;
        }
      } catch (DataFormatException e) {
        throw new IOException("corrupt BGZF CDATA at offset " + nextBlockStart, e);
      }
      if (n != isize) {
        throw new IOException(
            "BGZF ISIZE mismatch at offset " + nextBlockStart + ": " + n + " != " + isize);
      }
      long blockStart = nextBlockStart;
      nextBlockStart = blockStart + bsize + 1;
      upos = 0;
      ulen = n;
      if (!firstBlock) {
        advertisePending = true;
        pendingPos = blockStart + 1;
      }
      firstBlock = false;
      return true;
    }

    @Override
    public int read(byte[] b, int off, int len) throws IOException {
      if (len == 0) {
        return 0;
      }
      while (upos >= ulen) {             // skips empty blocks (EOF marker)
        if (eof || !loadNextBlock()) {
          eof = true;
          return -1;
        }
      }
      if (advertisePending) {
        pos = pendingPos;
        advertisePending = false;
      }
      int n = Math.min(len, ulen - upos);
      System.arraycopy(ubuf, upos, b, off, n);
      upos += n;
      return n;
    }

    @Override
    public int read() throws IOException {
      byte[] one = new byte[1];
      int n = read(one, 0, 1);
      return n < 0 ? -1 : (one[0] & 0xff);
    }

    @Override
    public long getPos() {
      return pos;
    }

    @Override
    public void resetState() throws IOException {
      inflater.reset();
      ulen = 0;
      upos = 0;
    }

    @Override
    public void close() throws IOException {
      try {
        inflater.end();
      } finally {
        super.close();
      }
    }
  }
}
