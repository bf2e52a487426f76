package exonspark.spark;

import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.HashSet;
import java.util.List;
import java.util.Locale;
import java.util.Map;
import java.util.Set;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation;
import org.apache.spark.sql.catalyst.parser.ParseException;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias;
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias$;
import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith;

import scala.Option;
import scala.PartialFunction$;
import scala.Tuple3;
import scala.jdk.javaapi.CollectionConverters;
import scala.runtime.AbstractFunction1;
import scala.runtime.BoxedUnit;

/**
 * Entry points of the Python driver, each one py4j round trip: the
 * driver resolves this class once per gateway and calls these methods
 * with strings and the frames it already holds, instead of building the
 * same objects call by call over py4j.
 */
public final class DriverCalls {
  private DriverCalls() {}

  /**
   * The DataSourceV2 reader {@code cls} (VcfBgzfSource, BamBgzfSource,
   * BgzfLineSource) over {@code path} with its "partitions" and "regions"
   * options (exon_spark.sources.jvm_fast.read_dsv2 writes both), projected
   * to the ','-separated {@code columns}; every column when empty.
   */
  public static Dataset<Row> readDsv2(
      SparkSession session,
      String cls,
      String path,
      String partitions,
      String regions,
      String columns) {
    Dataset<Row> df =
        session
            .read()
            .format(cls)
            .option("path", path)
            .option("partitions", partitions)
            .option("regions", regions)
            .load();
    return project(df, columns);
  }

  /**
   * The FastaSource reader over its "partitions" and "partition_columns"
   * options (exon_spark.sources.jvm_fast.read_fasta_dsv2 writes both),
   * projected to the ','-separated {@code columns}; every column when empty.
   */
  public static Dataset<Row> readFasta(
      SparkSession session, String partitions, String partitionColumns, String columns) {
    Dataset<Row> df =
        session
            .read()
            .format(FastaSource.class.getName())
            .option("partitions", partitions)
            .option("partition_columns", partitionColumns)
            .load();
    return project(df, columns);
  }

  private static Dataset<Row> project(Dataset<Row> df, String columns) {
    if (columns.isEmpty()) {
      return df;
    }
    String[] cols = columns.split(",");
    return df.select(cols[0], Arrays.copyOfRange(cols, 1, cols.length));
  }

  /**
   * {@code query} with each direct single-part reference to a table of
   * {@code names} ('\n'-separated) bound to the frame at the same index of
   * {@code frames}, inside subqueries and CTE definitions too. Only the
   * statement's own references are bound: the session's temp views are
   * untouched, so a view defined over the table (resolved from the catalog
   * while this statement is analyzed) still reads the table, and
   * concurrent statements cannot see each other's frames. A CTE that
   * shadows one of the names leaves that name unbound. Table names match
   * as the session resolves identifiers (spark.sql.caseSensitive).
   */
  public static Dataset<Row> sql(
      SparkSession session, String query, String names, List<Dataset<Row>> frames)
      throws ParseException {
    org.apache.spark.sql.classic.SparkSession s =
        (org.apache.spark.sql.classic.SparkSession) session;
    boolean caseSensitive = s.sessionState().conf().caseSensitiveAnalysis();
    String[] ns = names.split("\n");
    Map<String, LogicalPlan> bound = new HashMap<>();
    for (int i = 0; i < ns.length; i++) {
      org.apache.spark.sql.classic.Dataset<Row> frame =
          (org.apache.spark.sql.classic.Dataset<Row>) frames.get(i);
      bound.put(key(ns[i], caseSensitive), frame.queryExecution().analyzed());
    }
    // the parser reads the active session's conf, as in session.sql
    Option<SparkSession> active = SparkSession.getActiveSession();
    SparkSession.setActiveSession(s);
    try {
      LogicalPlan parsed = s.sessionState().sqlParser().parsePlan(query);
      for (String cte : cteNames(parsed)) {
        bound.remove(key(cte, caseSensitive));
      }
      return org.apache.spark.sql.classic.Dataset.ofRows(s, bind(parsed, bound, caseSensitive));
    } finally {
      if (active.isDefined()) {
        SparkSession.setActiveSession(active.get());
      } else {
        SparkSession.clearActiveSession();
      }
    }
  }

  private static String key(String name, boolean caseSensitive) {
    return caseSensitive ? name : name.toLowerCase(Locale.ROOT);
  }

  private static LogicalPlan bind(
      LogicalPlan plan, Map<String, LogicalPlan> bound, boolean caseSensitive) {
    if (bound.isEmpty()) {
      return plan;
    }
    AbstractFunction1<LogicalPlan, LogicalPlan> rule =
        new AbstractFunction1<LogicalPlan, LogicalPlan>() {
          @Override
          public LogicalPlan apply(LogicalPlan p) {
            if (p instanceof UnresolvedRelation) {
              UnresolvedRelation r = (UnresolvedRelation) p;
              if (r.multipartIdentifier().size() == 1 && !r.isStreaming()) {
                String name = r.multipartIdentifier().head();
                LogicalPlan frame = bound.get(key(name, caseSensitive));
                if (frame != null) {
                  return SubqueryAlias$.MODULE$.apply(name, frame);
                }
              }
            } else if (p instanceof UnresolvedWith) {
              // CTE definitions are not children of the WITH node
              UnresolvedWith w = (UnresolvedWith) p;
              List<Tuple3<String, SubqueryAlias, Option<Object>>> defs = new ArrayList<>();
              for (Tuple3<String, SubqueryAlias, Option<Object>> d :
                  CollectionConverters.asJava(w.cteRelations())) {
                SubqueryAlias body = (SubqueryAlias) bind(d._2(), bound, caseSensitive);
                defs.add(new Tuple3<>(d._1(), body, d._3()));
              }
              return w.copy(
                  w.child(), CollectionConverters.asScala(defs).toList(), w.allowRecursion());
            }
            return p;
          }
        };
    return plan.transformDownWithSubqueries(PartialFunction$.MODULE$.fromFunction(rule));
  }

  /** The names of every CTE the statement defines, at any depth. */
  private static Set<String> cteNames(LogicalPlan plan) {
    Set<String> out = new HashSet<>();
    plan.foreachWithSubqueries(
        new AbstractFunction1<LogicalPlan, BoxedUnit>() {
          @Override
          public BoxedUnit apply(LogicalPlan p) {
            if (p instanceof UnresolvedWith) {
              for (Tuple3<String, SubqueryAlias, Option<Object>> d :
                  CollectionConverters.asJava(((UnresolvedWith) p).cteRelations())) {
                out.add(d._1());
                out.addAll(cteNames(d._2()));
              }
            }
            return BoxedUnit.UNIT;
          }
        });
    return out;
  }
}
