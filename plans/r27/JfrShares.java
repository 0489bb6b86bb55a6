// Shares of CPU samples in a JFR recording of a perfbench run, restricted to
// the time windows that the run's log marks.
//
//   java plans/r27/JfrShares.java <recording.jfr> <jvm.log> <start-regex> <end-regex>
//
// A window opens at each log line `[perfbench]  <t> s  <msg>` whose <msg>
// matches <start-regex> and closes at the next one matching <end-regex>;
// <t> is seconds from JVM start. The recording needs `jdk.ExecutionSample`
// events with deep stacks (-XX:FlightRecorderOptions=stackdepth=1024). It
// prints, as markdown: the samples per thread group, the share of samples
// whose stack passes through each named frame set, and the 25 methods with
// the largest inclusive share below one half (lambda frames left out).

import java.nio.file.Files;
import java.nio.file.Path;
import java.time.Instant;
import java.util.*;
import java.util.function.Predicate;
import java.util.regex.Matcher;
import java.util.regex.Pattern;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordingFile;

public class JfrShares {
  record Cat(String name, Predicate<List<String>> test) {}

  static boolean any(List<String> st, String prefix) {
    for (String f : st) if (f.startsWith(prefix)) return true;
    return false;
  }

  /** Whether a frame starting with `inner` lies below (is called from) a frame starting with `outer`. */
  static boolean under(List<String> st, String inner, String outer) {
    // frames are leaf first
    int i = -1;
    for (int k = 0; k < st.size(); k++) if (st.get(k).startsWith(inner)) { i = k; break; }
    if (i < 0) return false;
    for (int k = i + 1; k < st.size(); k++) if (st.get(k).startsWith(outer)) return true;
    return false;
  }

  static final List<Cat> CATS = List.of(
      new Cat("CodeGenerator (any)", s -> any(s, "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$.")),
      new Cat("Janino compile (CodeGenerator$.doCompile)", s -> any(s, "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$.doCompile")),
      new Cat("SQL-execution events: QueryExecution.explainString", s -> any(s, "org.apache.spark.sql.execution.QueryExecution.explainString")),
      new Cat("SQL-execution events: SparkPlanInfo.fromSparkPlan", s -> any(s, "org.apache.spark.sql.execution.SparkPlanInfo$.fromSparkPlan")),
      new Cat("analyzer (Analyzer.executeAndCheck)", s -> any(s, "org.apache.spark.sql.catalyst.analysis.Analyzer.executeAndCheck")),
      new Cat("  of it under Dataset.withColumn(s)", s -> under(s, "org.apache.spark.sql.catalyst.analysis.Analyzer.executeAndCheck", "org.apache.spark.sql.classic.Dataset.withColumn")),
      new Cat("  of it under ReplicationJob.processBatch", s -> under(s, "org.apache.spark.sql.catalyst.analysis.Analyzer.executeAndCheck", "graft.streaming.ReplicationJob$.processBatch")),
      new Cat("optimizer (QueryExecution.optimizedPlan)", s -> any(s, "org.apache.spark.sql.execution.QueryExecution.optimizedPlan")),
      new Cat("physical planning (QueryExecution.sparkPlan)", s -> any(s, "org.apache.spark.sql.execution.QueryExecution.sparkPlan")),
      new Cat("parquet dictionary encoding (column.values.dictionary)", s -> any(s, "org.apache.parquet.column.values.dictionary.")),
      new Cat("  of it falling back (fallBackAllValuesTo / createDictionaryPage)", s -> any(s, "org.apache.parquet.column.values.fallback.FallbackValuesWriter.fallBack")),
      new Cat("parquet write (any org.apache.parquet frame)", s -> any(s, "org.apache.parquet.")),
      new Cat("JSON parse (catalyst.json)", s -> any(s, "org.apache.spark.sql.catalyst.json.")),
      new Cat("EventLogSource reader (graft.streaming.SliceReader)", s -> any(s, "graft.streaming.SliceReader")),
      new Cat("shuffle write (ShuffleWriteProcessor)", s -> any(s, "org.apache.spark.shuffle.ShuffleWriteProcessor")),
      new Cat("Hadoop Shell fork (org.apache.hadoop.util.Shell)", s -> any(s, "org.apache.hadoop.util.Shell")));

  public static void main(String[] a) throws Exception {
    Pattern note = Pattern.compile("\\[perfbench\\]\\s+([0-9.]+) s\\s+(.*)");
    Pattern start = Pattern.compile(a[2]), end = Pattern.compile(a[3]);
    List<double[]> windows = new ArrayList<>();
    Double open = null;
    for (String line : Files.readAllLines(Path.of(a[1]))) {
      Matcher m = note.matcher(line);
      if (!m.find()) continue;
      double t = Double.parseDouble(m.group(1));
      String msg = m.group(2).trim();
      if (open == null && start.matcher(msg).matches()) open = t;
      else if (open != null && end.matcher(msg).matches()) { windows.add(new double[] {open, t}); open = null; }
    }
    if (windows.isEmpty()) throw new IllegalStateException("no window in " + a[1]);

    List<RecordedEvent> samples = new ArrayList<>();
    Instant jvmStart = null;
    try (RecordingFile rf = new RecordingFile(Path.of(a[0]))) {
      while (rf.hasMoreEvents()) {
        RecordedEvent e = rf.readEvent();
        String n = e.getEventType().getName();
        if (n.equals("jdk.JVMInformation")) jvmStart = e.getInstant("jvmStartTime");
        else if (n.equals("jdk.ExecutionSample")) samples.add(e);
      }
    }
    long total = 0, truncated = 0;
    double windowS = 0;
    for (double[] w : windows) windowS += w[1] - w[0];
    Map<String, Long> groups = new TreeMap<>();
    long[] catN = new long[CATS.size()];
    Map<String, Long> inclusive = new HashMap<>();
    for (RecordedEvent e : samples) {
      double t = (e.getStartTime().toEpochMilli() - jvmStart.toEpochMilli()) / 1000.0;
      boolean in = false;
      for (double[] w : windows) if (t >= w[0] && t < w[1]) { in = true; break; }
      if (!in || e.getStackTrace() == null) continue;
      total++;
      if (e.getStackTrace().isTruncated()) truncated++;
      String th = e.getThread("sampledThread").getJavaName();
      String g = th == null ? "other"
          : th.startsWith("Executor task launch worker") ? "task threads"
          : th.startsWith("stream execution thread") ? "stream driver thread"
          : th.startsWith("graft-sink-upsert") ? "graft-sink-upsert"
          : th.equals("main") ? "main" : "other";
      groups.merge(g, 1L, Long::sum);
      List<String> st = new ArrayList<>();
      for (RecordedFrame f : e.getStackTrace().getFrames())
        st.add(f.getMethod().getType().getName() + "." + f.getMethod().getName());
      for (int i = 0; i < CATS.size(); i++) if (CATS.get(i).test().test(st)) catN[i]++;
      for (String f : new HashSet<>(st)) inclusive.merge(f, 1L, Long::sum);
    }
    final long tot = total;
    System.out.printf("%d windows, %.1f s; %d CPU samples in them (%d with a truncated stack)%n%n",
        windows.size(), windowS, total, truncated);
    System.out.println("| thread group | samples | share |\n|---|---:|---:|");
    groups.forEach((g, n) -> System.out.printf("| %s | %d | %.1f%% |%n", g, n, 100.0 * n / tot));
    System.out.println("\n| frame set on the stack | samples | share |\n|---|---:|---:|");
    for (int i = 0; i < CATS.size(); i++)
      System.out.printf("| %s | %d | %.1f%% |%n", CATS.get(i).name(), catN[i], 100.0 * catN[i] / tot);
    System.out.println("\n| method (inclusive, top 25 below 50%) | samples | share |\n|---|---:|---:|");
    inclusive.entrySet().stream()
        .filter(x -> x.getValue() < tot / 2 && !x.getKey().contains("$Lambda"))
        .sorted(Map.Entry.<String, Long>comparingByValue().reversed())
        .limit(25)
        .forEach(x -> System.out.printf("| `%s` | %d | %.1f%% |%n", x.getKey(), x.getValue(), 100.0 * x.getValue() / tot));
  }
}
