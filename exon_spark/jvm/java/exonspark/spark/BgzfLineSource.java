package exonspark.spark;

import java.io.IOException;
import java.io.Serializable;
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
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.sql.vectorized.ColumnarBatch;

/**
 * DataSourceV2 batch source of the text lines in planned BGZF
 * virtual-offset ranges, as one "value" string column: the local tabix
 * text reads of exon_spark.sources.tabular (GFF region reads, GFF/GTF/BED
 * full scans of a .gz/.bgz with a .tbi), which parse the lines with
 * from_csv. The driver plans the ranges (merged tabix chunk groups for
 * region reads, linear-index cuts for full scans) and passes them in
 * VcfBgzfSource.parsePartitions' grammar; every partition keeps all of its
 * lines, whatever its scope.
 *
 * Lines are VcfBgzfSource.BgzfLines': split at '\n', one trailing '\r'
 * dropped. The lines Spark's csv reader skips are skipped here too: a line
 * that starts with '#', and a line with no byte above 0x20 (empty once
 * String.trim() has run).
 *
 * Options (all lowercase):
 *   path        local filesystem path of the BGZF text file
 *   partitions  VcfBgzfSource's "scope@beg:end;beg:end|..." spec
 */
public class BgzfLineSource implements TableProvider {

  static final StructType SCHEMA = new StructType().add("value", DataTypes.StringType, true);

  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    return SCHEMA;
  }

  @Override
  public Table getTable(
      StructType schema, Transform[] partitioning, Map<String, String> properties) {
    return new LineTable();
  }

  @Override
  public boolean supportsExternalMetadata() {
    return false;
  }

  static final class LineTable implements SupportsRead {
    @Override
    public String name() {
      return "bgzf-lines";
    }

    @Override
    public StructType schema() {
      return SCHEMA;
    }

    @Override
    public Set<TableCapability> capabilities() {
      return Set.of(TableCapability.BATCH_READ);
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
      return new LineScan(options.get("path"), options.getOrDefault("partitions", ""));
    }
  }

  static final class LineScan implements ScanBuilder, Scan, Batch {
    private final String path;
    private final String partitionSpec;

    LineScan(String path, String partitionSpec) {
      this.path = path;
      this.partitionSpec = partitionSpec;
    }

    @Override
    public Scan build() {
      return this;
    }

    @Override
    public StructType readSchema() {
      return SCHEMA;
    }

    @Override
    public String description() {
      return "BgzfLineScan " + path;
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    @Override
    public InputPartition[] planInputPartitions() {
      return VcfBgzfSource.parsePartitions(partitionSpec);
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      return new LineReaderFactory(path);
    }
  }

  static final class LineReaderFactory implements PartitionReaderFactory, Serializable {
    private final String path;

    LineReaderFactory(String path) {
      this.path = path;
    }

    /** Never called: every partition reads columnar. */
    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      throw new UnsupportedOperationException("bgzf-lines reads columnar only");
    }

    @Override
    public boolean supportColumnarReads(InputPartition partition) {
      return true;
    }

    @Override
    public PartitionReader<ColumnarBatch> createColumnarReader(InputPartition partition) {
      try {
        return new LineReader(
            new VcfBgzfSource.BgzfLines(path, (VcfBgzfSource.RangePartition) partition));
      } catch (IOException e) {
        throw new RuntimeException("bgzf-lines: cannot open " + path, e);
      }
    }
  }

  /** The kept lines of one partition as 4096-row ColumnarBatches. */
  static final class LineReader implements PartitionReader<ColumnarBatch> {
    private static final int CAPACITY = 4096;

    private final VcfBgzfSource.BgzfLines lines;
    private final OnHeapColumnVector vec = new OnHeapColumnVector(CAPACITY, DataTypes.StringType);
    private final ColumnarBatch batch = new ColumnarBatch(new OnHeapColumnVector[] {vec});

    LineReader(VcfBgzfSource.BgzfLines lines) {
      this.lines = lines;
    }

    @Override
    public boolean next() throws IOException {
      vec.reset();
      int n = 0;
      while (n < CAPACITY && nextKept()) {
        vec.putByteArray(n++, lines.lbuf, 0, lines.llen);
      }
      batch.setNumRows(n);
      return n > 0;
    }

    /** Advance to the next line that is not a '#' line and has a byte
     * above 0x20. False when the partition is exhausted. */
    private boolean nextKept() throws IOException {
      while (lines.fillLine()) {
        byte[] b = lines.lbuf;
        int n = lines.llen;
        if (n > 0 && b[0] == '#') {
          continue;
        }
        for (int i = 0; i < n; i++) {
          if ((b[i] & 0xff) > 0x20) {
            return true;
          }
        }
      }
      return false;
    }

    @Override
    public ColumnarBatch get() {
      return batch;
    }

    @Override
    public void close() throws IOException {
      batch.close();
      lines.close();
    }
  }
}
