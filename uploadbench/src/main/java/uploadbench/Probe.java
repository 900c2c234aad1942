package uploadbench;

import java.util.ArrayDeque;
import java.util.ArrayList;
import java.util.List;

/**
 * The calls the agent inserts into the layer methods. Spans are kept in
 * memory and handed to the benchmark after each traced run; while
 * {@link #enabled} is false every call returns at once.
 */
public final class Probe {
  private Probe() {}

  /** One call into a layer: name, start, end, parent, run id. */
  public static final class Span {
    public final int id;
    public final int parent;
    public final String name;
    public final long runId;
    public final long startNanos;
    public long endNanos = -1L;
    /** The receiver followed by the call's reference arguments. */
    public final Object[] args;
    public Object result;
    public boolean threw;

    Span(int id, int parent, String name, long runId, Object[] args) {
      this.id = id;
      this.parent = parent;
      this.name = name;
      this.runId = runId;
      this.args = args;
      this.startNanos = System.nanoTime();
    }
  }

  /** Reacts to span boundaries (sets Spark job groups, reads sizes). */
  public interface Hook {
    void entered(Span s);
    void exited(Span s);
  }

  public static volatile boolean enabled = false;
  public static volatile long runId = 0L;
  public static volatile Hook hook = null;

  private static final List<Span> spans = new ArrayList<>();
  private static int nextId = 1;
  private static final ThreadLocal<ArrayDeque<Span>> stack =
      ThreadLocal.withInitial(ArrayDeque::new);

  public static void enter(String name, Object[] args) {
    if (!enabled) return;
    try {
      ArrayDeque<Span> st = stack.get();
      Span s;
      synchronized (spans) {
        s = new Span(nextId++, st.isEmpty() ? 0 : st.peek().id, name, runId, args);
        spans.add(s);
      }
      st.push(s);
      Hook h = hook;
      if (h != null) h.entered(s);
    } catch (Throwable t) {
      // tracing must never change the program's behaviour
    }
  }

  public static void exit(Object result) {
    close(result, false);
  }

  public static void exitThrown() {
    close(null, true);
  }

  private static void close(Object result, boolean threw) {
    if (!enabled) return;
    try {
      ArrayDeque<Span> st = stack.get();
      if (st.isEmpty()) return;
      Span s = st.pop();
      s.endNanos = System.nanoTime();
      s.result = result;
      s.threw = threw;
      Hook h = hook;
      if (h != null) h.exited(s);
    } catch (Throwable t) {
      // tracing must never change the program's behaviour
    }
  }

  /** The innermost open span on this thread, or null. */
  public static Span current() {
    return stack.get().peek();
  }

  /** Returns and forgets every span recorded so far. */
  public static List<Span> drain() {
    synchronized (spans) {
      List<Span> out = new ArrayList<>(spans);
      spans.clear();
      return out;
    }
  }
}
