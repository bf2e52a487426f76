package exonspark.spark;

import java.io.BufferedInputStream;
import java.io.File;
import java.io.FileInputStream;
import java.io.IOException;
import java.io.InputStream;
import java.io.Serializable;
import java.nio.charset.StandardCharsets;
import java.util.Arrays;
import java.util.Locale;
import java.util.Map;
import java.util.Set;
import java.util.zip.GZIPInputStream;

import com.github.luben.zstd.ZstdInputStream;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * DataSourceV2 batch source for local FASTQ files
 * (exon_spark.sources.jvm_fast.read_fastq_jvm). The Python driver lists the
 * files with FastqSource._files() and passes them as the "files" option;
 * each file is one partition, since FASTQ cannot be split safely by byte
 * range ('@' legally begins a quality line).
 *
 * Decompression follows the extension: .gz/.bgz/.bgzf through the JDK's
 * GZIPInputStream, which reads multi-member streams (BGZF, and the
 * stitched parts of a COPY ... OPTIONS (compression 'gzip')), .zst/.zstd
 * through zstd-jni, anything else as plain text.
 *
 * Rows and errors equal FastqSource.read_arrow_partition's: lines split
 * at '\n' with one trailing '\r' dropped, blank and whitespace-only lines
 * skipped where a header is due, then four lines per record taken as they
 * are, so an empty sequence and quality read as ''; the header is split
 * at its first space into name and description (an empty description is
 * null); a header without '@', a separator without '+' and a trailing
 * partial record each fail the read, and so does a field it decodes that is
 * not well-formed UTF-8 (the Python reader's Arrow cast rejects it).
 * Lines are framed by LineInput.
 *
 * Options (all lowercase):
 *   files   '\n'-separated local filesystem paths, one partition each
 */
public class FastqSource implements TableProvider {

  static final StructType FULL_SCHEMA =
      new StructType()
          .add("name", DataTypes.StringType, true)
          .add("description", DataTypes.StringType, true)
          .add("sequence", DataTypes.StringType, true)
          .add("quality_scores", DataTypes.StringType, true);

  private static final String[] COLUMNS = {
    "name", "description", "sequence", "quality_scores"
  };

  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    return FULL_SCHEMA;
  }

  @Override
  public Table getTable(
      StructType schema, Transform[] partitioning, Map<String, String> properties) {
    return new FastqTable();
  }

  @Override
  public boolean supportsExternalMetadata() {
    return false;
  }

  static final class FastqTable implements SupportsRead {
    @Override
    public String name() {
      return "fastq-jvm";
    }

    @Override
    public StructType schema() {
      return FULL_SCHEMA;
    }

    @Override
    public Set<TableCapability> capabilities() {
      return Set.of(TableCapability.BATCH_READ);
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
      return new FastqScanBuilder(options);
    }
  }

  static final class FastqScanBuilder implements ScanBuilder, SupportsPushDownRequiredColumns {
    private final CaseInsensitiveStringMap options;
    private StructType required = FULL_SCHEMA;

    FastqScanBuilder(CaseInsensitiveStringMap options) {
      this.options = options;
    }

    @Override
    public void pruneColumns(StructType requiredSchema) {
      this.required = requiredSchema;
    }

    @Override
    public Scan build() {
      String files = options.getOrDefault("files", "");
      return new FastqScan(files.isEmpty() ? new String[0] : files.split("\n"), required);
    }
  }

  static final class FastqScan implements Scan, Batch {
    private final String[] files;
    private final StructType required;

    FastqScan(String[] files, StructType required) {
      this.files = files;
      this.required = required;
    }

    @Override
    public StructType readSchema() {
      return required;
    }

    @Override
    public String description() {
      return "FastqScan " + files.length + " file(s)";
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public InputPartition[] planInputPartitions() {
      InputPartition[] out = new InputPartition[files.length];
      for (int i = 0; i < files.length; i++) {
        out[i] = new FilePartition(files[i]);
      }
      return out;
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      int[] colOf = new int[required.fields().length];
      for (int i = 0; i < colOf.length; i++) {
        colOf[i] = Arrays.asList(COLUMNS).indexOf(required.fields()[i].name().toLowerCase(Locale.ROOT));
      }
      return new FastqReaderFactory(colOf);
    }
  }

  static final class FilePartition implements InputPartition {
    final String path;

    FilePartition(String path) {
      this.path = path;
    }
  }

  static final class FastqReaderFactory implements PartitionReaderFactory, Serializable {
    private final int[] colOf;

    FastqReaderFactory(int[] colOf) {
      this.colOf = colOf;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      String path = ((FilePartition) partition).path;
      try {
        return new FastqPartitionReader(path, open(path), colOf);
      } catch (IOException e) {
        throw new RuntimeException("fastq: cannot open " + path, e);
      }
    }
  }

  /** The decompressed bytes of path, by extension; null for an empty file. */
  static InputStream open(String path) throws IOException {
    if (new File(path).length() == 0) {
      return null;
    }
    String lower = path.toLowerCase(Locale.ROOT);
    InputStream raw = new FileInputStream(path);
    try {
      if (lower.endsWith(".gz") || lower.endsWith(".bgz") || lower.endsWith(".bgzf")) {
        return new GZIPInputStream(raw, 1 << 16);
      }
      if (lower.endsWith(".zst") || lower.endsWith(".zstd")) {
        return new ZstdInputStream(new BufferedInputStream(raw, 1 << 16));
      }
    } catch (IOException e) {
      raw.close();
      throw e;
    }
    return raw;
  }

  // -------------------------------------------------------------- reader

  static final class FastqPartitionReader implements PartitionReader<InternalRow> {
    private final String path;
    private final LineInput in;
    private final int[] colOf;
    // the record's header, sequence, separator and quality lines
    private final LineInput.Bytes[] line = {
      new LineInput.Bytes(), new LineInput.Bytes(), new LineInput.Bytes(), new LineInput.Bytes()
    };
    private InternalRow current;

    FastqPartitionReader(String path, InputStream in, int[] colOf) {
      this.path = path;
      this.in = new LineInput(in);
      this.colOf = colOf;
    }

    @Override
    public boolean next() throws IOException {
      if (!nextHeader()) {
        return false;
      }
      for (int k = 1; k < 4; k++) {
        line[k].len = 0;
        if (in.readLine(line[k]) < 0) {
          throw new IOException(path + ": truncated FASTQ record");
        }
      }
      if (line[0].b[0] != '@') {
        throw new IOException(
            path + ": malformed FASTQ header: '" + text(0, 0, line[0].len) + "'");
      }
      if (line[2].len == 0 || line[2].b[0] != '+') {
        throw new IOException(path + ": malformed FASTQ separator");
      }
      current = buildRow();
      return true;
    }

    @Override
    public InternalRow get() {
      return current;
    }

    @Override
    public void close() throws IOException {
      in.close();
    }

    private InternalRow buildRow() throws IOException {
      int len = line[0].len;
      int sp = 1;
      while (sp < len && line[0].b[sp] != ' ') {
        sp++;
      }
      Object[] vals = new Object[colOf.length];
      for (int i = 0; i < colOf.length; i++) {
        switch (colOf[i]) {
          case 0:
            vals[i] = utf8(0, 1, sp);
            break;
          case 1:
            vals[i] = sp + 1 < len ? utf8(0, sp + 1, len) : null;
            break;
          case 2:
            vals[i] = utf8(1, 0, line[1].len);
            break;
          default:
            vals[i] = utf8(3, 0, line[3].len);
        }
      }
      return new GenericInternalRow(vals);
    }

    private UTF8String utf8(int k, int from, int to) throws IOException {
      if (!LineInput.isUtf8(line[k].b, from, to)) {
        throw new IOException(path + ": invalid UTF-8 in a FASTQ record");
      }
      return UTF8String.fromBytes(Arrays.copyOfRange(line[k].b, from, to));
    }

    private String text(int k, int from, int to) {
      return new String(line[k].b, from, to - from, StandardCharsets.UTF_8);
    }

    /** The next line that is not blank or whitespace-only into line[0];
     * false at end of input. */
    private boolean nextHeader() throws IOException {
      LineInput.Bytes l = line[0];
      while (true) {
        l.len = 0;
        if (in.readLine(l) < 0) {
          return false;
        }
        for (int i = 0; i < l.len; i++) {
          byte b = l.b[i];
          if (!(b == ' ' || (b >= '\t' && b <= '\r'))) { // Python's bytes.strip set
            return true;
          }
        }
      }
    }
  }
}
