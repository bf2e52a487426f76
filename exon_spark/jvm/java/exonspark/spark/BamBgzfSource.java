package exonspark.spark;

import java.io.IOException;
import java.io.Serializable;
import java.math.BigDecimal;
import java.math.MathContext;
import java.math.RoundingMode;
import java.nio.charset.StandardCharsets;
import java.util.Arrays;
import java.util.Map;
import java.util.Set;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
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
import org.apache.spark.sql.connector.read.SupportsPushDownV2Filters;
import org.apache.spark.sql.connector.expressions.filter.Predicate;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * DataSourceV2 batch source for local BAM files
 * (exon_spark.sources.jvm_fast.read_bam_jvm). The Python driver plans the
 * scan with BamSource.plan_partitions (.bai/.csi chunk groups, index-cut
 * byte ranges, or the whole file) and passes the plan as the "partitions"
 * option; each partition reader parses the BAM header for the reference
 * names, seeks its virtual-offset ranges through VcfBgzfSource.BgzfRanges
 * and decodes only the required columns of each record. The partition
 * spec, its parser and the region scopes are VcfBgzfSource's.
 *
 * Rows equal the Python BAM DataSource's (sources/bam.py decode_record)
 * on every column: name '' => null, start/end 1-based (null when unmapped;
 * end null for a zero reference span), mapping_quality null at 255,
 * quality_score empty when absent (0xFF), tags null when the record has
 * none and every tag value rendered as Python's str() of its decoded
 * value — float tags in Python's shortest round-trip repr.
 *
 * Options (all lowercase):
 *   path        local filesystem path of the BAM
 *   partitions  '|'-separated partitions, each "scope@beg:end;beg:end...",
 *               the grammar of VcfBgzfSource.parsePartitions: BGZF
 *               virtual-offset [beg,end) ranges owning the records that
 *               START inside them (beg -1 = first record after the header,
 *               end -1 = end of file). scope "-" keeps every record, "*"
 *               keeps records overlapping any region, a number keeps
 *               records overlapping that one region (so overlapping
 *               regions each emit their own matches).
 *   regions     ','-separated "chrom:lo:hi" (1-based inclusive; parsed
 *               from the right so chrom names may contain ':')
 *
 * Predicate pushdown (SupportsPushDownV2Filters): the scan consumes every
 * conjunct over reference, start and end that CoordPredicates can
 * evaluate exactly (AND/OR/NOT, IS_NULL/IS_NOT_NULL, = <> < <= > >=
 * against a string or bigint literal) and tests it per record on the
 * values it would emit for those columns (reference null for an
 * out-of-range refid, start and end null when unmapped, end null for a
 * zero reference span), whether or not they are projected. Spark plans no
 * Filter for a consumed conjunct; any other conjunct stays a post-scan
 * filter. The scan's description lists the consumed predicates.
 */
public class BamBgzfSource implements TableProvider {

  static final StructType TAG =
      new StructType()
          .add("tag", DataTypes.StringType, true)
          .add("value", DataTypes.StringType, true);

  static final StructType FULL_SCHEMA =
      new StructType()
          .add("name", DataTypes.StringType, true)
          .add("flag", DataTypes.IntegerType, true)
          .add("reference", DataTypes.StringType, true)
          .add("start", DataTypes.LongType, true)
          .add("end", DataTypes.LongType, true)
          .add("mapping_quality", DataTypes.StringType, true)
          .add("cigar", DataTypes.StringType, true)
          .add("mate_reference", DataTypes.StringType, true)
          .add("sequence", DataTypes.StringType, true)
          .add("quality_score", DataTypes.createArrayType(DataTypes.LongType, true), true)
          .add("tags", DataTypes.createArrayType(TAG, true), true);

  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    return FULL_SCHEMA;
  }

  @Override
  public Table getTable(
      StructType schema, Transform[] partitioning, Map<String, String> properties) {
    return new BamTable();
  }

  @Override
  public boolean supportsExternalMetadata() {
    return false;
  }

  static final class BamTable implements SupportsRead {
    @Override
    public String name() {
      return "bam-bgzf";
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
      return new BamScanBuilder(options);
    }
  }

  static final class BamScanBuilder
      implements ScanBuilder, SupportsPushDownRequiredColumns, SupportsPushDownV2Filters {
    private final CaseInsensitiveStringMap options;
    private StructType required = FULL_SCHEMA;
    // the Coords columns of BamPartitionReader
    private final CoordPredicates predicates =
        new CoordPredicates(
            new String[] {"reference", "start", "end"}, new boolean[] {true, false, false});

    BamScanBuilder(CaseInsensitiveStringMap options) {
      this.options = options;
    }

    @Override
    public void pruneColumns(StructType requiredSchema) {
      this.required = requiredSchema;
    }

    @Override
    public Predicate[] pushPredicates(Predicate[] offered) {
      return predicates.push(offered);
    }

    @Override
    public Predicate[] pushedPredicates() {
      return predicates.pushed();
    }

    @Override
    public Scan build() {
      return new BamScan(
          options.get("path"),
          options.getOrDefault("partitions", ""),
          options.getOrDefault("regions", ""),
          required,
          predicates);
    }
  }

  static final class BamScan implements Scan, Batch {
    private final String path;
    private final String partitionSpec;
    private final String regionSpec;
    private final StructType required;
    private final CoordPredicates predicates;

    BamScan(
        String path,
        String partitionSpec,
        String regionSpec,
        StructType required,
        CoordPredicates predicates) {
      this.path = path;
      this.partitionSpec = partitionSpec;
      this.regionSpec = regionSpec;
      this.required = required;
      this.predicates = predicates;
    }

    @Override
    public StructType readSchema() {
      return required;
    }

    @Override
    public String description() {
      return "BamBgzfScan " + path + predicates.describe();
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
      String[] cols = new String[required.fields().length];
      for (int i = 0; i < cols.length; i++) {
        cols[i] = required.fields()[i].name();
      }
      return new BamReaderFactory(path, cols, regionSpec, predicates.conjuncts());
    }
  }

  static final class BamReaderFactory implements PartitionReaderFactory, Serializable {
    private final String path;
    private final String[] cols;
    private final String regionSpec;
    private final CoordPredicates.Node[] conjuncts; // null: none pushed

    BamReaderFactory(
        String path, String[] cols, String regionSpec, CoordPredicates.Node[] conjuncts) {
      this.path = path;
      this.cols = cols;
      this.regionSpec = regionSpec;
      this.conjuncts = conjuncts;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      try {
        return new BamPartitionReader(
            path, cols, regionSpec, (VcfBgzfSource.RangePartition) partition, conjuncts);
      } catch (IOException e) {
        throw new RuntimeException("bam-bgzf: cannot open " + path, e);
      }
    }
  }

  // -------------------------------------------------------------- reader

  private static final String[] COLUMNS = {
    "name", "flag", "reference", "start", "end", "mapping_quality", "cigar",
    "mate_reference", "sequence", "quality_score", "tags"
  };
  private static final byte[] SEQ_CODE =
      "=ACMGRSVTWYHKDBN".getBytes(StandardCharsets.US_ASCII);
  private static final char[] CIGAR_OPS = "MIDNSHP=X".toCharArray();
  private static final int REF_CONSUMING = 0b110001101; // M D N = X
  private static final UTF8String[] MAPQ = new UTF8String[256];

  static {
    for (int i = 0; i < MAPQ.length; i++) {
      MAPQ[i] = UTF8String.fromString(Integer.toString(i));
    }
  }

  static final class BamPartitionReader
      implements PartitionReader<InternalRow>, CoordPredicates.Coords {
    private final int[] colOf; // index into COLUMNS per required column
    private final VcfBgzfSource.BgzfRanges in;
    private final UTF8String[] refNames;
    private final byte[][] refBytes;
    private final CoordPredicates.Node[] conjuncts; // null: none pushed
    private final boolean testEnd; // a pushed conjunct reads end
    private final long headerEnd;
    private final VcfBgzfSource.RangePartition part;

    // region filter: refid match table per region, 1-based bounds
    private final boolean[][] regionRef;
    private final long[] regionLo;
    private final long[] regionHi;

    private int range = -1;
    private long rangeEnd;
    private boolean inRange;
    private byte[] rec = new byte[1 << 10];
    private int recLen;
    private InternalRow current;

    BamPartitionReader(
        String path,
        String[] cols,
        String regionSpec,
        VcfBgzfSource.RangePartition part,
        CoordPredicates.Node[] conjuncts)
        throws IOException {
      colOf = new int[cols.length];
      for (int i = 0; i < cols.length; i++) {
        colOf[i] = Arrays.asList(COLUMNS).indexOf(cols[i].toLowerCase());
        if (colOf[i] < 0) {
          throw new IOException("bam-bgzf: unsupported column " + cols[i]);
        }
      }
      this.part = part;
      in = new VcfBgzfSource.BgzfRanges(path, new long[0], new long[0]);
      if (!in.seek(0) || !readFully(4)
          || rec[0] != 'B' || rec[1] != 'A' || rec[2] != 'M' || rec[3] != 1) {
        throw new IOException("bam-bgzf: not a BAM file: " + path);
      }
      skip(readInt());
      refNames = new UTF8String[readInt()];
      for (int r = 0; r < refNames.length; r++) {
        int lName = readInt();
        if (!readFully(lName)) {
          throw new IOException("bam-bgzf: truncated header: " + path);
        }
        refNames[r] = UTF8String.fromBytes(Arrays.copyOf(rec, Math.max(lName - 1, 0)));
        readInt(); // l_ref
      }
      headerEnd = in.tell();
      refBytes = new byte[refNames.length][];
      for (int r = 0; r < refNames.length; r++) {
        refBytes[r] = refNames[r].getBytes();
      }
      this.conjuncts = conjuncts;
      testEnd = CoordPredicates.uses(conjuncts, 2);

      VcfBgzfSource.Regions rs = new VcfBgzfSource.Regions(regionSpec, part.region);
      regionRef = new boolean[rs.chroms.length][refNames.length];
      regionLo = rs.lo;
      regionHi = rs.hi;
      for (int i = 0; i < rs.chroms.length; i++) {
        UTF8String chrom = UTF8String.fromString(rs.chroms[i]);
        for (int r = 0; r < refNames.length; r++) {
          regionRef[i][r] = refNames[r].equals(chrom);
        }
      }
    }

    @Override
    public boolean next() throws IOException {
      while (true) {
        if (!inRange && !openNextRange()) {
          return false;
        }
        long v = in.tell();
        if (v < 0 || Long.compareUnsigned(v, rangeEnd) >= 0 || !readRecord()) {
          inRange = false;
          continue;
        }
        if ((part.region == VcfBgzfSource.RangePartition.ALL_RECORDS || overlapsRegion())
            && (conjuncts == null || passes())) {
          current = buildRow();
          return true;
        }
      }
    }

    @Override
    public InternalRow get() {
      return current;
    }

    @Override
    public void close() throws IOException {
      in.close();
    }

    private boolean openNextRange() throws IOException {
      if (++range >= part.begs.length) {
        return false;
      }
      long beg = part.begs[range] < 0 ? headerEnd : part.begs[range];
      rangeEnd = part.ends[range]; // -1 compares unsigned as the largest offset
      inRange = beg >= 0 && in.seek(beg);
      return true;
    }

    /** Copy the next n decompressed bytes into rec[0..n); false at EOF. */
    private boolean readFully(int n) throws IOException {
      if (n > rec.length) {
        rec = Arrays.copyOf(rec, Math.max(n, rec.length * 2));
      }
      int got = 0;
      while (got < n) {
        if (in.upos >= in.ulim && !in.nextBlock()) {
          return false;
        }
        int k = Math.min(n - got, in.ulim - in.upos);
        System.arraycopy(in.ubuf, in.upos, rec, got, k);
        in.upos += k;
        got += k;
      }
      return true;
    }

    private void skip(int n) throws IOException {
      while (n > 0) {
        if (in.upos >= in.ulim && !in.nextBlock()) {
          throw new IOException("bam-bgzf: truncated header");
        }
        int k = Math.min(n, in.ulim - in.upos);
        in.upos += k;
        n -= k;
      }
    }

    private int readInt() throws IOException {
      if (!readFully(4)) {
        throw new IOException("bam-bgzf: truncated header");
      }
      return i32(0);
    }

    /** Load the next record's bytes (after block_size) into rec; false
     * at EOF or on a truncated trailing record. */
    private boolean readRecord() throws IOException {
      if (!readFully(4)) {
        return false;
      }
      int size = i32(0);
      if (size < 32) {
        throw new IOException("bam-bgzf: corrupt record of " + size + " bytes");
      }
      recLen = size;
      return readFully(size);
    }

    private int i32(int o) {
      return (rec[o] & 0xff)
          | (rec[o + 1] & 0xff) << 8
          | (rec[o + 2] & 0xff) << 16
          | (rec[o + 3] & 0xff) << 24;
    }

    private int u16(int o) {
      return (rec[o] & 0xff) | (rec[o + 1] & 0xff) << 8;
    }

    private int cigarOffset() {
      return 32 + (rec[8] & 0xff);
    }

    /** Reference span of the CIGAR (sum of M/D/N/=/X lengths). */
    private long refSpan() {
      int nCig = u16(12);
      int o = cigarOffset();
      long span = 0;
      for (int k = 0; k < nCig; k++, o += 4) {
        int op = i32(o);
        if (((REF_CONSUMING >> (op & 0xF)) & 1) != 0) {
          span += op >>> 4;
        }
      }
      return span;
    }

    // the current record's coordinates, as passes() hands them to Coords
    private int curRef;
    private boolean curUnmapped;
    private long curStart;
    private long curEnd; // Long.MIN_VALUE: null

    private boolean passes() {
      curRef = i32(0);
      int pos = i32(4);
      curUnmapped = curRef < 0 || pos < 0;
      curStart = pos + 1L;
      curEnd = Long.MIN_VALUE;
      if (testEnd && !curUnmapped) {
        long span = refSpan();
        curEnd = span == 0 ? Long.MIN_VALUE : pos + span;
      }
      return CoordPredicates.test(conjuncts, this);
    }

    // Coords: column 0 is reference, 1 start, 2 end, as buildRow emits them
    @Override
    public boolean isNull(int col) {
      switch (col) {
        case 0:
          return curRef < 0 || curRef >= refNames.length;
        case 1:
          return curUnmapped;
        default:
          return curEnd == Long.MIN_VALUE;
      }
    }

    @Override
    public long longAt(int col) {
      return col == 1 ? curStart : curEnd;
    }

    @Override
    public int compareBytes(int col, byte[] lit) {
      byte[] name = refBytes[curRef];
      return CoordPredicates.compareBytes(name, 0, name.length, lit);
    }

    private boolean overlapsRegion() {
      int refid = i32(0);
      int pos = i32(4);
      if (refid < 0 || refid >= refNames.length || pos < 0) {
        return false;
      }
      long start = pos + 1L;
      long span = refSpan();
      long last = span == 0 ? start : pos + span;
      for (int r = 0; r < regionLo.length; r++) {
        if (regionRef[r][refid] && start <= regionHi[r] && last >= regionLo[r]) {
          return true;
        }
      }
      return false;
    }

    private UTF8String refName(int refid) {
      return refid >= 0 && refid < refNames.length ? refNames[refid] : null;
    }

    private InternalRow buildRow() throws IOException {
      int refid = i32(0);
      int pos = i32(4);
      int lName = rec[8] & 0xff;
      int mapq = rec[9] & 0xff;
      int nCig = u16(12);
      int lSeq = i32(16);
      boolean unmapped = refid < 0 || pos < 0;
      int seqOff = cigarOffset() + 4 * nCig;
      int qualOff = seqOff + (lSeq + 1) / 2;
      int tagOff = qualOff + lSeq;
      Object[] vals = new Object[colOf.length];
      for (int i = 0; i < colOf.length; i++) {
        switch (colOf[i]) {
          case 0:
            vals[i] = lName <= 1 ? null : UTF8String.fromBytes(Arrays.copyOfRange(rec, 32, 31 + lName));
            break;
          case 1:
            vals[i] = u16(14);
            break;
          case 2:
            vals[i] = refName(refid);
            break;
          case 3:
            vals[i] = unmapped ? null : (Object) (pos + 1L);
            break;
          case 4:
            long span = refSpan();
            vals[i] = unmapped || span == 0 ? null : (Object) (pos + span);
            break;
          case 5:
            vals[i] = mapq == 255 ? null : MAPQ[mapq];
            break;
          case 6:
            vals[i] = cigar(nCig);
            break;
          case 7:
            vals[i] = refName(i32(20));
            break;
          case 8:
            byte[] seq = new byte[lSeq];
            for (int k = 0; k < lSeq; k++) {
              int b = rec[seqOff + k / 2] & 0xff;
              seq[k] = SEQ_CODE[(k & 1) == 0 ? b >> 4 : b & 0xF];
            }
            vals[i] = UTF8String.fromBytes(seq);
            break;
          case 9:
            boolean absent = lSeq == 0 || (rec[qualOff] & 0xff) == 0xFF;
            long[] q = new long[absent ? 0 : lSeq];
            for (int k = 0; k < q.length; k++) {
              q[k] = rec[qualOff + k] & 0xff;
            }
            vals[i] = new GenericArrayData(q);
            break;
          default:
            vals[i] = tags(tagOff);
        }
      }
      return new GenericInternalRow(vals);
    }

    private UTF8String cigar(int nCig) {
      StringBuilder sb = new StringBuilder(nCig * 4);
      int o = cigarOffset();
      for (int k = 0; k < nCig; k++, o += 4) {
        int op = i32(o);
        sb.append(op >>> 4).append(CIGAR_OPS[op & 0xF]);
      }
      return UTF8String.fromString(sb.toString());
    }

    /** Tag list as [(tag, str(value))], or null when the record has none. */
    private Object tags(int off) throws IOException {
      java.util.ArrayList<Object> out = new java.util.ArrayList<>();
      StringBuilder sb = new StringBuilder();
      while (off + 3 <= recLen) {
        UTF8String tag = UTF8String.fromString(ascii(off, off + 2));
        char typ = (char) (rec[off + 2] & 0xff);
        off += 3;
        sb.setLength(0);
        if (typ == 'B') {
          char sub = (char) (rec[off] & 0xff);
          int n = i32(off + 1);
          off += 5;
          int size = valueSize(sub);
          for (int k = 0; k < n; k++, off += size) {
            if (k > 0) {
              sb.append(',');
            }
            appendValue(sb, sub, off);
          }
        } else if (typ == 'Z' || typ == 'H') {
          int end = off;
          while (end < recLen && rec[end] != 0) {
            end++;
          }
          if (end >= recLen) {
            throw new IOException("bam-bgzf: unterminated " + typ + " tag");
          }
          sb.append(ascii(off, end));
          off = end + 1;
        } else {
          appendValue(sb, typ, off);
          off += valueSize(typ);
        }
        out.add(new GenericInternalRow(new Object[] {tag, UTF8String.fromString(sb.toString())}));
      }
      return out.isEmpty() ? null : new GenericArrayData(out.toArray());
    }

    private static int valueSize(char typ) throws IOException {
      switch (typ) {
        case 'A':
        case 'c':
        case 'C':
          return 1;
        case 's':
        case 'S':
          return 2;
        case 'i':
        case 'I':
        case 'f':
          return 4;
        default:
          throw new IOException("bam-bgzf: unknown BAM tag type '" + typ + "'");
      }
    }

    private void appendValue(StringBuilder sb, char typ, int o) {
      switch (typ) {
        case 'A':
          sb.append((char) (rec[o] & 0xff));
          break;
        case 'c':
          sb.append(rec[o]);
          break;
        case 'C':
          sb.append(rec[o] & 0xff);
          break;
        case 's':
          sb.append((short) u16(o));
          break;
        case 'S':
          sb.append(u16(o));
          break;
        case 'i':
          sb.append(i32(o));
          break;
        case 'I':
          sb.append(i32(o) & 0xFFFFFFFFL);
          break;
        default: // 'f'
          sb.append(pyRepr(Float.intBitsToFloat(i32(o))));
      }
    }

    /** bytes.decode("ascii", "replace"): non-ASCII bytes become U+FFFD. */
    private String ascii(int s, int e) {
      char[] cs = new char[e - s];
      for (int k = s; k < e; k++) {
        int b = rec[k] & 0xff;
        cs[k - s] = b < 0x80 ? (char) b : '\uFFFD';
      }
      return new String(cs);
    }
  }

  /**
   * Python's repr() of a double: the shortest decimal that round-trips
   * (the nearest one when several do), fixed notation for decimal
   * exponents in [-4, 16), else d.ddde+XX. JDK 17's Double.toString is
   * neither always shortest nor in this layout (1.0E-5 vs 1e-05).
   */
  public static String pyRepr(double d) {
    if (Double.isNaN(d)) {
      return "nan";
    }
    if (Double.isInfinite(d)) {
      return d > 0 ? "inf" : "-inf";
    }
    if (d == 0) {
      return 1 / d < 0 ? "-0.0" : "0.0";
    }
    BigDecimal exact = new BigDecimal(d);
    BigDecimal best = null;
    for (int p = 1; best == null; p++) {
      BigDecimal near = exact.round(new MathContext(p, RoundingMode.HALF_EVEN));
      if (near.doubleValue() == d) {
        best = near;
        break;
      }
      // the nearest p-digit decimal can miss a binade's narrower lower
      // half-gap while the neighbour on the other side round-trips
      for (RoundingMode m : new RoundingMode[] {RoundingMode.FLOOR, RoundingMode.CEILING}) {
        BigDecimal c = exact.round(new MathContext(p, m));
        if (c.doubleValue() == d) {
          best = c;
        }
      }
    }
    best = best.stripTrailingZeros();
    String digits = best.unscaledValue().abs().toString();
    int n = digits.length();
    int decpt = n - best.scale(); // value = 0.<digits> * 10^decpt
    StringBuilder sb = new StringBuilder(d < 0 ? "-" : "");
    if (decpt > -4 && decpt <= 16) {
      if (decpt <= 0) {
        sb.append("0.");
        for (int k = decpt; k < 0; k++) {
          sb.append('0');
        }
        sb.append(digits);
      } else if (decpt >= n) {
        sb.append(digits);
        for (int k = n; k < decpt; k++) {
          sb.append('0');
        }
        sb.append(".0");
      } else {
        sb.append(digits, 0, decpt).append('.').append(digits, decpt, n);
      }
    } else {
      sb.append(digits.charAt(0));
      if (n > 1) {
        sb.append('.').append(digits, 1, n);
      }
      int exp = decpt - 1;
      sb.append(exp < 0 ? "e-" : "e+");
      if (Math.abs(exp) < 10) {
        sb.append('0');
      }
      sb.append(Math.abs(exp));
    }
    return sb.toString();
  }
}
