package exonspark.hadoop;

import java.io.EOFException;
import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.io.InputStream;
import java.io.RandomAccessFile;
import java.net.URI;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.util.ArrayList;
import java.util.List;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FSDataOutputStream;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.PositionedReadable;
import org.apache.hadoop.fs.Seekable;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.util.Progressable;

/**
 * Read-only Hadoop FileSystem presenting a *virtual concatenation* of byte
 * ranges of local files as one file ("exoncat://" scheme).
 *
 * A virtual path exoncat:///abs/dir/view.bgz is backed by a real manifest
 * at /abs/dir/view.bgz.manifest — tab-separated lines
 * "absolute-path<TAB>start<TAB>length" — and reads as those ranges spliced
 * in order. Written by exon_spark.sources.bgzf_view (index-pruned GFF
 * region views): the driver plans the tabix/index chunk ranges of a BGZF file,
 * re-compresses the partial boundary blocks into tiny synthetic side
 * files, and hands Spark a .bgz-suffixed virtual file that contains ONLY
 * the region's blocks. Combined with BgzfCodec the JVM text/csv readers
 * then byte-range-split an index-pruned compressed view with zero copies
 * of the (multi-GB) kept ranges and zero Python in the data path.
 *
 * Segments are opened with java.io against the local filesystem — this
 * single-node build plans views on local fixtures only; a cluster deploy
 * would resolve segments through Hadoop FileSystems instead (the manifest
 * format already carries full paths).
 */
public class ExonCatFileSystem extends FileSystem {

  private URI uri = URI.create("exoncat:///");
  private Path workingDir = new Path("exoncat:///");

  @Override
  public void initialize(URI name, Configuration conf) throws IOException {
    super.initialize(name, conf);
    this.uri = URI.create(name.getScheme() + ":///");
    setConf(conf);
  }

  @Override
  public String getScheme() {
    return "exoncat";
  }

  @Override
  public URI getUri() {
    return uri;
  }

  private static File manifestFile(Path f) {
    return new File(f.toUri().getPath() + ".manifest");
  }

  static final class Segment {
    final String path;
    final long start;
    final long length;

    Segment(String path, long start, long length) {
      this.path = path;
      this.start = start;
      this.length = length;
    }
  }

  private static List<Segment> readManifest(File mf) throws IOException {
    if (!mf.isFile()) {
      throw new FileNotFoundException(mf.getPath());
    }
    List<Segment> out = new ArrayList<>();
    for (String line : Files.readAllLines(mf.toPath(), StandardCharsets.UTF_8)) {
      line = line.trim();
      if (line.isEmpty() || line.startsWith("#")) {
        continue;
      }
      String[] f = line.split("\t");
      if (f.length != 3) {
        throw new IOException("bad manifest line: " + line);
      }
      out.add(new Segment(f[0], Long.parseLong(f[1]), Long.parseLong(f[2])));
    }
    return out;
  }

  @Override
  public FSDataInputStream open(Path f, int bufferSize) throws IOException {
    return new FSDataInputStream(new CatInputStream(readManifest(manifestFile(f))));
  }

  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    File mf = manifestFile(f);
    List<Segment> segs = readManifest(mf);
    long total = 0;
    for (Segment s : segs) {
      total += s.length;
    }
    return new FileStatus(
        total, false, 1, 128L << 20, mf.lastModified(), makeQualified(f));
  }

  @Override
  public FileStatus[] listStatus(Path f) throws IOException {
    return new FileStatus[] {getFileStatus(f)};
  }

  @Override
  public Path makeQualified(Path path) {
    return path.isAbsolute() ? new Path(uri.getScheme(), null, path.toUri().getPath()) : path;
  }

  @Override
  public void setWorkingDirectory(Path dir) {
    workingDir = dir;
  }

  @Override
  public Path getWorkingDirectory() {
    return workingDir;
  }

  @Override
  public FSDataOutputStream create(Path f, FsPermission p, boolean overwrite, int bufferSize,
      short replication, long blockSize, Progressable progress) throws IOException {
    throw new IOException("exoncat is read-only");
  }

  @Override
  public FSDataOutputStream append(Path f, int bufferSize, Progressable progress)
      throws IOException {
    throw new IOException("exoncat is read-only");
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    throw new IOException("exoncat is read-only");
  }

  @Override
  public boolean delete(Path f, boolean recursive) throws IOException {
    throw new IOException("exoncat is read-only");
  }

  @Override
  public boolean mkdirs(Path f, FsPermission permission) throws IOException {
    throw new IOException("exoncat is read-only");
  }

  /** Seekable spliced view over the manifest's segments. */
  static final class CatInputStream extends InputStream implements Seekable, PositionedReadable {
    private final List<Segment> segs;
    private final long[] virtStart;   // virtual offset of each segment
    private final long totalLen;
    private long pos = 0;
    private int segIdx = 0;
    private RandomAccessFile raf = null;
    private int rafIdx = -1;

    CatInputStream(List<Segment> segs) {
      this.segs = segs;
      this.virtStart = new long[segs.size() + 1];
      long acc = 0;
      for (int i = 0; i < segs.size(); i++) {
        virtStart[i] = acc;
        acc += segs.get(i).length;
      }
      virtStart[segs.size()] = acc;
      this.totalLen = acc;
    }

    private void ensureSeg() throws IOException {
      // advance segIdx so that pos lies in [virtStart[segIdx], virtStart[segIdx+1])
      while (segIdx < segs.size() && pos >= virtStart[segIdx + 1]) {
        segIdx++;
      }
      while (segIdx > 0 && pos < virtStart[segIdx]) {
        segIdx--;
      }
      if (segIdx < segs.size() && rafIdx != segIdx) {
        if (raf != null) {
          raf.close();
        }
        raf = new RandomAccessFile(segs.get(segIdx).path, "r");
        rafIdx = segIdx;
      }
    }

    @Override
    public int read(byte[] b, int off, int len) throws IOException {
      if (pos >= totalLen) {
        return -1;
      }
      ensureSeg();
      Segment s = segs.get(segIdx);
      long inSeg = pos - virtStart[segIdx];
      int n = (int) Math.min(len, s.length - inSeg);
      raf.seek(s.start + inSeg);
      n = raf.read(b, off, n);
      if (n > 0) {
        pos += n;
      }
      return n;
    }

    @Override
    public int read() throws IOException {
      byte[] one = new byte[1];
      int n = read(one, 0, 1);
      return n < 0 ? -1 : (one[0] & 0xff);
    }

    @Override
    public void seek(long newPos) throws IOException {
      if (newPos < 0) {
        throw new EOFException("negative seek");
      }
      pos = newPos;
    }

    @Override
    public long getPos() {
      return pos;
    }

    @Override
    public boolean seekToNewSource(long targetPos) {
      return false;
    }

    @Override
    public int read(long position, byte[] buffer, int offset, int length) throws IOException {
      long saved = pos;
      try {
        seek(position);
        return read(buffer, offset, length);
      } finally {
        pos = saved;
        segIdx = 0;
      }
    }

    @Override
    public void readFully(long position, byte[] buffer, int offset, int length)
        throws IOException {
      int done = 0;
      while (done < length) {
        int n = read(position + done, buffer, offset + done, length - done);
        if (n < 0) {
          throw new EOFException("read past end of exoncat stream");
        }
        done += n;
      }
    }

    @Override
    public void readFully(long position, byte[] buffer) throws IOException {
      readFully(position, buffer, 0, buffer.length);
    }

    @Override
    public void close() throws IOException {
      if (raf != null) {
        raf.close();
        raf = null;
      }
      super.close();
    }
  }
}
