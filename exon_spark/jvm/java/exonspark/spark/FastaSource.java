package exonspark.spark;

import java.io.IOException;
import java.io.Serializable;
import java.net.URLDecoder;
import java.nio.charset.StandardCharsets;
import java.util.Map;
import java.util.Set;

import org.apache.spark.sql.catalyst.InternalRow;
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
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.sql.vectorized.ColumnarBatch;

/**
 * DataSourceV2 batch source for local FASTA files
 * (exon_spark.sources.jvm_fast.read_fasta_dsv2). The Python driver lists
 * the files with FastaSource._files() and plans them with
 * FastaSource.plan_partitions: byte ranges of plain files above 1 MB, one
 * partition per compressed file. Each partition names its file, its byte
 * range and its hive partition values.
 *
 * Files open by extension through FastqSource.open (gzip/BGZF
 * multi-member, zstd, plain). A range owns the records whose '>' starts
 * a line at an offset in [beg, end): the reader skips to the first line
 * start at or past beg and stops at the first header at or past end.
 *
 * Rows equal FastaSource.read_arrow_partition's: records are framed at
 * line-start '>' only (a '>' inside a header or a sequence line is text),
 * text before the first header is skipped, a header splits at its first
 * space into id and description (an empty description is null), the
 * sequence is the record's other lines joined, and a record with an
 * empty header and an empty sequence is dropped. Lines are framed by
 * LineInput, which drops one trailing '\r' (the Python reader strips
 * every '\r' once it sees one in the first or last 64 KB of its input;
 * the two agree on CRLF files). A field the reader decodes that is not
 * well-formed UTF-8 fails the read, as the Python reader's Arrow cast
 * does.
 *
 * Options (all lowercase):
 *   partitions          '\n'-separated partitions "beg\tend\tpath\tvalue...":
 *                       end -1 reads to the end of the file; the path and
 *                       each partition value are percent-encoded, and a
 *                       value of "%" is null
 *   partition_columns   '\t'-separated percent-encoded names of the hive
 *                       partition columns, string columns after the
 *                       base three in this order
 */
public class FastaSource implements TableProvider {

  private static final String[] BASE = {"id", "description", "sequence"};

  /** Rows per batch, and the sequence bytes after which a batch ends early. */
  private static final int CAPACITY = 4096;

  private static final int BATCH_BYTES = 8 << 20;

  static StructType schemaOf(String[] partitionColumns) {
    StructType s = new StructType();
    for (String c : BASE) {
      s = s.add(c, DataTypes.StringType, true);
    }
    for (String c : partitionColumns) {
      s = s.add(c, DataTypes.StringType, true);
    }
    return s;
  }

  static String decode(String s) {
    return URLDecoder.decode(s, StandardCharsets.UTF_8);
  }

  static String[] partitionColumns(CaseInsensitiveStringMap options) {
    String spec = options.getOrDefault("partition_columns", "");
    if (spec.isEmpty()) {
      return new String[0];
    }
    String[] cols = spec.split("\t", -1);
    for (int i = 0; i < cols.length; i++) {
      cols[i] = decode(cols[i]);
    }
    return cols;
  }

  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    return schemaOf(partitionColumns(options));
  }

  @Override
  public Table getTable(
      StructType schema, Transform[] partitioning, Map<String, String> properties) {
    return new FastaTable(schema);
  }

  @Override
  public boolean supportsExternalMetadata() {
    return false;
  }

  static final class FastaTable implements SupportsRead {
    private final StructType schema;

    FastaTable(StructType schema) {
      this.schema = schema;
    }

    @Override
    public String name() {
      return "fasta-jvm";
    }

    @Override
    public StructType schema() {
      return schema;
    }

    @Override
    public Set<TableCapability> capabilities() {
      return Set.of(TableCapability.BATCH_READ);
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
      return new FastaScanBuilder(schema, options);
    }
  }

  static final class FastaScanBuilder implements ScanBuilder, SupportsPushDownRequiredColumns {
    private final StructType full;
    private final CaseInsensitiveStringMap options;
    private StructType required;

    FastaScanBuilder(StructType full, CaseInsensitiveStringMap options) {
      this.full = full;
      this.options = options;
      this.required = full;
    }

    @Override
    public void pruneColumns(StructType requiredSchema) {
      this.required = requiredSchema;
    }

    @Override
    public Scan build() {
      String spec = options.getOrDefault("partitions", "");
      String[] lines = spec.isEmpty() ? new String[0] : spec.split("\n");
      RangePartition[] parts = new RangePartition[lines.length];
      for (int i = 0; i < lines.length; i++) {
        parts[i] = RangePartition.parse(lines[i]);
      }
      int[] colOf = new int[required.fields().length];
      for (int i = 0; i < colOf.length; i++) {
        colOf[i] = full.fieldIndex(required.fields()[i].name());
      }
      return new FastaScan(parts, required, colOf);
    }
  }

  static final class FastaScan implements Scan, Batch {
    private final RangePartition[] parts;
    private final StructType required;
    private final int[] colOf;

    FastaScan(RangePartition[] parts, StructType required, int[] colOf) {
      this.parts = parts;
      this.required = required;
      this.colOf = colOf;
    }

    @Override
    public StructType readSchema() {
      return required;
    }

    @Override
    public String description() {
      return "FastaScan " + parts.length + " partition(s)";
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public InputPartition[] planInputPartitions() {
      return parts;
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      return new FastaReaderFactory(required, colOf);
    }
  }

  static final class RangePartition implements InputPartition {
    final String path;
    final long beg;
    final long end; // -1: end of file
    final String[] values; // hive partition values, null when the file has none

    RangePartition(String path, long beg, long end, String[] values) {
      this.path = path;
      this.beg = beg;
      this.end = end;
      this.values = values;
    }

    static RangePartition parse(String line) {
      String[] f = line.split("\t", -1);
      String[] values = new String[f.length - 3];
      for (int i = 0; i < values.length; i++) {
        values[i] = f[i + 3].equals("%") ? null : decode(f[i + 3]);
      }
      return new RangePartition(decode(f[2]), Long.parseLong(f[0]), Long.parseLong(f[1]), values);
    }
  }

  static final class FastaReaderFactory implements PartitionReaderFactory, Serializable {
    private final StructType required;
    private final int[] colOf;

    FastaReaderFactory(StructType required, int[] colOf) {
      this.required = required;
      this.colOf = colOf;
    }

    /** Never called: every partition reads columnar. */
    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      throw new UnsupportedOperationException("fasta-jvm reads columnar only");
    }

    @Override
    public boolean supportColumnarReads(InputPartition partition) {
      return true;
    }

    @Override
    public PartitionReader<ColumnarBatch> createColumnarReader(InputPartition partition) {
      RangePartition p = (RangePartition) partition;
      try {
        return new FastaBatchReader(p, new FastaCursor(p, colOf), required, colOf);
      } catch (IOException e) {
        throw new RuntimeException("fasta: cannot open " + p.path, e);
      }
    }
  }

  // -------------------------------------------------------------- reader

  /**
   * The records of one partition: next() frames the next owned record
   * into cur (its header line, '>' included) and, when the sequence is
   * required, seq.
   */
  static final class FastaCursor implements AutoCloseable {
    private final LineInput in;
    private final long end;
    private final boolean wantSeq;
    private boolean done;
    private LineInput.Bytes hdr = new LineInput.Bytes(); // the header read ahead of the record
    LineInput.Bytes cur = new LineInput.Bytes();
    final LineInput.Bytes seq = new LineInput.Bytes();

    FastaCursor(RangePartition p, int[] colOf) throws IOException {
      boolean seqCol = false;
      for (int c : colOf) {
        seqCol |= c == 2;
      }
      this.wantSeq = seqCol;
      this.end = p.end;
      this.in = new LineInput(FastqSource.open(p.path));
      try {
        start(p.beg);
      } catch (IOException | RuntimeException e) {
        close();
        throw e;
      }
    }

    /** Positions the cursor at the first header at or past beg and reads it. */
    private void start(long beg) throws IOException {
      if (beg > 0) {
        // the first line start at or past beg: skip through the '\n' at or after beg - 1
        in.skip(beg - 1);
        in.readLine(null);
      }
      // text before the first header belongs to no record of this range
      int b;
      while ((b = in.peek()) >= 0 && b != '>') {
        in.readLine(null);
      }
      advance(b);
    }

    /**
     * At a line starting with b (-1: end of input): reads the header there
     * into hdr, or ends the range when there is none or it starts a record
     * of a later range.
     */
    private void advance(int b) throws IOException {
      done = b < 0 || (end >= 0 && in.offset() >= end);
      if (!done) {
        hdr.len = 0;
        in.readLine(hdr);
      }
    }

    /** The next record into cur/seq; false when the range has no more. */
    boolean next() throws IOException {
      while (!done) {
        LineInput.Bytes t = cur;
        cur = hdr;
        hdr = t;
        seq.len = 0;
        boolean empty = true;
        int b;
        while ((b = in.peek()) >= 0 && b != '>') {
          empty &= in.readLine(wantSeq ? seq : null) == 0;
        }
        advance(b);
        if (cur.len > 1 || !empty) {
          return true;
        }
      }
      return false;
    }

    @Override
    public void close() throws IOException {
      in.close();
    }
  }

  /**
   * Emits a FastaCursor's records as ColumnarBatches of OnHeapColumnVectors
   * (up to CAPACITY rows or BATCH_BYTES of sequence); field bytes are copied
   * into the vectors, so the cursor reuses its buffers.
   */
  static final class FastaBatchReader implements PartitionReader<ColumnarBatch> {
    private final String path;
    private final FastaCursor cursor;
    private final int[] colOf;
    private final byte[][] values;
    private final OnHeapColumnVector[] vecs;
    private final ColumnarBatch batch;

    FastaBatchReader(RangePartition p, FastaCursor cursor, StructType required, int[] colOf) {
      this.path = p.path;
      this.cursor = cursor;
      this.colOf = colOf;
      this.values = new byte[p.values.length][];
      for (int i = 0; i < values.length; i++) {
        values[i] = p.values[i] == null ? null : p.values[i].getBytes(StandardCharsets.UTF_8);
      }
      this.vecs = OnHeapColumnVector.allocateColumns(CAPACITY, required);
      this.batch = new ColumnarBatch(vecs);
    }

    @Override
    public boolean next() throws IOException {
      for (OnHeapColumnVector v : vecs) {
        v.reset();
      }
      int n = 0;
      long bytes = 0;
      while (n < CAPACITY && bytes < BATCH_BYTES && cursor.next()) {
        emit(n++);
        bytes += cursor.seq.len;
      }
      batch.setNumRows(n);
      return n > 0;
    }

    private void emit(int row) throws IOException {
      byte[] h = cursor.cur.b;
      int hl = cursor.cur.len;
      int sp = 1;
      while (sp < hl && h[sp] != ' ') {
        sp++;
      }
      for (int i = 0; i < colOf.length; i++) {
        OnHeapColumnVector v = vecs[i];
        switch (colOf[i]) {
          case 0:
            put(v, row, h, 1, sp);
            break;
          case 1:
            if (sp + 1 < hl) {
              put(v, row, h, sp + 1, hl);
            } else {
              v.putNull(row);
            }
            break;
          case 2:
            put(v, row, cursor.seq.b, 0, cursor.seq.len);
            break;
          default:
            byte[] val = values[colOf[i] - 3];
            if (val == null) {
              v.putNull(row);
            } else {
              v.putByteArray(row, val, 0, val.length);
            }
        }
      }
    }

    private void put(OnHeapColumnVector v, int row, byte[] b, int from, int to)
        throws IOException {
      if (!LineInput.isUtf8(b, from, to)) {
        throw new IOException(path + ": invalid UTF-8 in a FASTA record");
      }
      v.putByteArray(row, b, from, to - from);
    }

    @Override
    public ColumnarBatch get() {
      return batch;
    }

    @Override
    public void close() throws IOException {
      batch.close();
      cursor.close();
    }
  }
}
