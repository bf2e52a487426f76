package exonspark.spark;

import java.io.Serializable;
import java.util.ArrayList;
import java.util.List;

import org.apache.spark.sql.connector.expressions.Expression;
import org.apache.spark.sql.connector.expressions.Literal;
import org.apache.spark.sql.connector.expressions.NamedReference;
import org.apache.spark.sql.connector.expressions.filter.Predicate;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * The predicates a BGZF reader consumes itself (SupportsPushDownV2Filters):
 * AND, OR, NOT, IS_NULL, IS_NOT_NULL, ALWAYS_TRUE, ALWAYS_FALSE and
 * = <> < <= > >= between one of the reader's coordinate columns and a
 * literal of that column's type (string or bigint), in either order.
 * push() takes a conjunct Spark offers when every node of it has one of
 * these forms; anything else stays with Spark as a post-scan filter.
 *
 * test() evaluates the consumed conjuncts per record in SQL three-valued
 * logic, over the values the reader would emit for those columns: a
 * record is kept only when every conjunct is TRUE, as Spark's Filter
 * keeps it. Strings compare byte-wise unsigned (UTF8String's order),
 * numbers as longs. The reader supplies the values through Coords, which
 * it can answer for every record whether or not the column is projected.
 */
final class CoordPredicates {
  static final int FALSE = 0;
  static final int TRUE = 1;
  static final int UNKNOWN = 2;

  /** The current record's coordinate column values, by column index. */
  interface Coords {
    boolean isNull(int col);

    long longAt(int col);

    /** Unsigned byte-wise comparison of the string at col with lit. */
    int compareBytes(int col, byte[] lit);
  }

  private final String[] names; // the coordinate columns, by index
  private final boolean[] isString;
  private final List<Predicate> pushed = new ArrayList<>();
  private final List<Node> nodes = new ArrayList<>();

  CoordPredicates(String[] names, boolean[] isString) {
    this.names = names;
    this.isString = isString;
  }

  /** Consume the offered conjuncts the reader can evaluate exactly;
   * return the others, which Spark keeps as a post-scan filter. */
  Predicate[] push(Predicate[] offered) {
    List<Predicate> rest = new ArrayList<>();
    for (Predicate p : offered) {
      Node n = compile(p);
      if (n == null) {
        rest.add(p);
      } else {
        pushed.add(p);
        nodes.add(n);
      }
    }
    return rest.toArray(new Predicate[0]);
  }

  Predicate[] pushed() {
    return pushed.toArray(new Predicate[0]);
  }

  /** The description suffix naming the consumed predicates. */
  String describe() {
    return pushed.isEmpty() ? "" : " PushedPredicates: " + pushed;
  }

  /** The consumed conjuncts for the executors, or null when none. */
  Node[] conjuncts() {
    return nodes.isEmpty() ? null : nodes.toArray(new Node[0]);
  }

  /** True when a conjunct reads column col. */
  static boolean uses(Node[] conjuncts, int col) {
    if (conjuncts != null) {
      for (Node n : conjuncts) {
        if (n.uses(col)) {
          return true;
        }
      }
    }
    return false;
  }

  /** True when every conjunct is TRUE for the current record. */
  static boolean test(Node[] conjuncts, Coords r) {
    for (Node n : conjuncts) {
      if (n.eval(r) != TRUE) {
        return false;
      }
    }
    return true;
  }

  // ------------------------------------------------------------ compile

  private Node compile(Predicate p) {
    Expression[] kids = p.children();
    switch (p.name()) {
      case "ALWAYS_TRUE":
        return new Const(TRUE);
      case "ALWAYS_FALSE":
        return new Const(FALSE);
      case "AND":
      case "OR":
      case "NOT":
        Node[] sub = new Node[kids.length];
        for (int i = 0; i < kids.length; i++) {
          if (!(kids[i] instanceof Predicate) || (sub[i] = compile((Predicate) kids[i])) == null) {
            return null;
          }
        }
        int logic = p.name().equals("AND") ? Logic.AND : p.name().equals("OR") ? Logic.OR : Logic.NOT;
        return new Logic(logic, sub);
      case "IS_NULL":
      case "IS_NOT_NULL":
        int col = kids.length == 1 ? column(kids[0]) : -1;
        return col < 0 ? null : new NullTest(col, p.name().equals("IS_NOT_NULL"));
      default:
        int op = Cmp.op(p.name());
        if (op < 0 || kids.length != 2) {
          return null;
        }
        int left = column(kids[0]);
        if (left >= 0) {
          return cmp(left, op, kids[1]);
        }
        int right = column(kids[1]);
        return right >= 0 ? cmp(right, Cmp.flip(op), kids[0]) : null;
    }
  }

  /** The coordinate column index e names, or -1. */
  private int column(Expression e) {
    if (!(e instanceof NamedReference)) {
      return -1;
    }
    String[] parts = ((NamedReference) e).fieldNames();
    if (parts.length != 1) {
      return -1;
    }
    for (int i = 0; i < names.length; i++) {
      if (names[i].equalsIgnoreCase(parts[0])) {
        return i;
      }
    }
    return -1;
  }

  private Node cmp(int col, int op, Expression e) {
    if (!(e instanceof Literal)) {
      return null;
    }
    Literal<?> lit = (Literal<?>) e;
    DataType want = isString[col] ? DataTypes.StringType : DataTypes.LongType;
    if (!want.equals(lit.dataType())) {
      return null;
    }
    Object v = lit.value();
    if (v == null) {
      return new Const(UNKNOWN);
    }
    if (isString[col]) {
      return new Cmp(col, op, 0, ((UTF8String) v).getBytes());
    }
    return new Cmp(col, op, (Long) v, null);
  }

  // --------------------------------------------------------------- nodes

  abstract static class Node implements Serializable {
    abstract int eval(Coords r);

    abstract boolean uses(int col);
  }

  static final class Const extends Node {
    private final int value;

    Const(int value) {
      this.value = value;
    }

    @Override
    int eval(Coords r) {
      return value;
    }

    @Override
    boolean uses(int col) {
      return false;
    }
  }

  static final class Logic extends Node {
    static final int AND = 0;
    static final int OR = 1;
    static final int NOT = 2;

    private final int op;
    private final Node[] kids;

    Logic(int op, Node[] kids) {
      this.op = op;
      this.kids = kids;
    }

    @Override
    int eval(Coords r) {
      if (op == NOT) {
        int v = kids[0].eval(r);
        return v == UNKNOWN ? UNKNOWN : TRUE - v;
      }
      int decisive = op == AND ? FALSE : TRUE;
      int out = TRUE - decisive;
      for (Node k : kids) {
        int v = k.eval(r);
        if (v == decisive) {
          return decisive;
        }
        if (v == UNKNOWN) {
          out = UNKNOWN;
        }
      }
      return out;
    }

    @Override
    boolean uses(int col) {
      for (Node k : kids) {
        if (k.uses(col)) {
          return true;
        }
      }
      return false;
    }
  }

  static final class NullTest extends Node {
    private final int col;
    private final boolean negate;

    NullTest(int col, boolean negate) {
      this.col = col;
      this.negate = negate;
    }

    @Override
    int eval(Coords r) {
      return r.isNull(col) != negate ? TRUE : FALSE;
    }

    @Override
    boolean uses(int col) {
      return this.col == col;
    }
  }

  static final class Cmp extends Node {
    private static final String[] OPS = {"=", "<>", "<", "<=", ">", ">="};
    private static final int[] FLIPPED = {0, 1, 4, 5, 2, 3};

    private final int col;
    private final int op;
    private final long num;
    private final byte[] str; // null for a bigint column

    Cmp(int col, int op, long num, byte[] str) {
      this.col = col;
      this.op = op;
      this.num = num;
      this.str = str;
    }

    static int op(String name) {
      for (int i = 0; i < OPS.length; i++) {
        if (OPS[i].equals(name)) {
          return i;
        }
      }
      return -1;
    }

    /** The operator with its operands swapped: lit < col is col > lit. */
    static int flip(int op) {
      return FLIPPED[op];
    }

    @Override
    int eval(Coords r) {
      if (r.isNull(col)) {
        return UNKNOWN;
      }
      int c = str != null ? r.compareBytes(col, str) : Long.compare(r.longAt(col), num);
      boolean hit;
      switch (op) {
        case 0:
          hit = c == 0;
          break;
        case 1:
          hit = c != 0;
          break;
        case 2:
          hit = c < 0;
          break;
        case 3:
          hit = c <= 0;
          break;
        case 4:
          hit = c > 0;
          break;
        default:
          hit = c >= 0;
      }
      return hit ? TRUE : FALSE;
    }

    @Override
    boolean uses(int col) {
      return this.col == col;
    }
  }

  /** Unsigned byte-wise comparison of a[as..ae) with b, as UTF8String orders. */
  static int compareBytes(byte[] a, int as, int ae, byte[] b) {
    int n = Math.min(ae - as, b.length);
    for (int i = 0; i < n; i++) {
      int d = (a[as + i] & 0xff) - (b[i] & 0xff);
      if (d != 0) {
        return d;
      }
    }
    return (ae - as) - b.length;
  }
}
