package uploadbench;

import java.lang.instrument.ClassFileTransformer;
import java.lang.instrument.Instrumentation;
import java.security.ProtectionDomain;
import java.util.Map;
import java.util.Set;

import org.apache.xbean.asm9.ClassReader;
import org.apache.xbean.asm9.ClassVisitor;
import org.apache.xbean.asm9.ClassWriter;
import org.apache.xbean.asm9.Label;
import org.apache.xbean.asm9.MethodVisitor;
import org.apache.xbean.asm9.Opcodes;
import org.apache.xbean.asm9.Type;
import org.apache.xbean.asm9.commons.AdviceAdapter;

/**
 * Tracing agent for the traced benchmark run ({@code -javaagent:<bench jar>}).
 *
 * The uploader calls its layers as static Scala objects and builds its own
 * sinks, so the calls cannot be wrapped from the benchmark's source. The
 * agent instead rewrites the layer classes as they load: every selected
 * method calls {@link Probe#enter} on entry and {@link Probe#exit} on every
 * return or throw. The program's sources are untouched; without the agent
 * (the untraced run) the classes load unchanged.
 */
public final class Agent implements ClassFileTransformer {

  /** Instrumented methods by internal class name; an empty set means
    * every public, non-synthetic method of the class. */
  static final Map<String, Set<String>> TARGETS = Map.of(
      "graft/bde/Orchestrator$", Set.of("applyUpdates"),
      "graft/bde/Repo$", Set.of("planLevel0", "planLevel5", "scanLevel"),
      "graft/bde/BdeFormat$", Set.of("parseHeader", "read", "readFile",
          "selectValidColumns"),
      "graft/bde/Loader$", Set.of("level0Replace", "level5Apply",
          "level0Incremental"),
      "graft/bde/ParquetTableSink", Set.of("stage", "publish", "readStaged",
          "read", "discard", "currentVersion"),
      "graft/bde/Control", Set.of(),
      "graft/bde/ControlStore$", Set.of("write"));

  /** Span names use the layer name the benchmark reports under. */
  static String layer(String internalName) {
    String simple = internalName.substring(internalName.lastIndexOf('/') + 1)
        .replace("$", "");
    if (simple.equals("ParquetTableSink")) return "Sink";
    return simple;
  }

  public static void premain(String args, Instrumentation inst) {
    inst.addTransformer(new Agent());
  }

  @Override
  public byte[] transform(ClassLoader loader, String className,
      Class<?> redefined, ProtectionDomain pd, byte[] bytes) {
    Set<String> methods = className == null ? null : TARGETS.get(className);
    if (methods == null) return null;
    try {
      ClassReader reader = new ClassReader(bytes);
      ClassWriter writer = new ClassWriter(reader, ClassWriter.COMPUTE_FRAMES) {
        @Override
        protected String getCommonSuperClass(String a, String b) {
          try {
            return super.getCommonSuperClass(a, b);
          } catch (RuntimeException | LinkageError e) {
            return "java/lang/Object";
          }
        }
        @Override
        protected ClassLoader getClassLoader() {
          return loader != null ? loader : super.getClassLoader();
        }
      };
      String prefix = layer(className) + ".";
      reader.accept(new ClassVisitor(Opcodes.ASM9, writer) {
        @Override
        public MethodVisitor visitMethod(int access, String name, String desc,
            String sig, String[] exc) {
          MethodVisitor mv = super.visitMethod(access, name, desc, sig, exc);
          boolean selected = methods.isEmpty()
              ? (access & Opcodes.ACC_PUBLIC) != 0
              : methods.contains(name);
          boolean plain = (access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE
              | Opcodes.ACC_ABSTRACT | Opcodes.ACC_STATIC)) == 0
              && !name.startsWith("<") && name.indexOf('$') < 0;
          if (!selected || !plain) return mv;
          return new SpanAdvice(mv, access, name, desc, prefix + name);
        }
      }, ClassReader.EXPAND_FRAMES);
      return writer.toByteArray();
    } catch (Throwable t) {
      System.err.println("uploadbench agent: cannot instrument " + className + ": " + t);
      return null;
    }
  }

  /** Wraps one method body: enter on entry, exit on each return, and a
    * catch-all handler that records the exit and rethrows. */
  static final class SpanAdvice extends AdviceAdapter {
    private final String span;
    private final Label start = new Label();
    private final Label handler = new Label();

    SpanAdvice(MethodVisitor mv, int access, String name, String desc, String span) {
      super(Opcodes.ASM9, mv, access, name, desc);
      this.span = span;
    }

    @Override
    protected void onMethodEnter() {
      visitLabel(start);
      push(span);
      // the receiver and the reference arguments ride along, so the probe
      // can read e.g. the control file a write targets
      Type[] args = getArgumentTypes();
      int objs = 0;
      for (Type t : args) if (t.getSort() == Type.OBJECT) objs++;
      Type object = Type.getType(Object.class);
      push(objs + 1);
      newArray(object);
      dup();
      push(0);
      loadThis();
      arrayStore(object);
      int k = 1;
      for (int i = 0; i < args.length; i++) {
        if (args[i].getSort() != Type.OBJECT) continue;
        dup();
        push(k++);
        loadArg(i);
        arrayStore(object);
      }
      invokeStatic(Type.getType(Probe.class),
          org.apache.xbean.asm9.commons.Method.getMethod("void enter(String, Object[])"));
    }

    @Override
    protected void onMethodExit(int opcode) {
      if (opcode == ATHROW) return; // the handler below records throws
      if (opcode == ARETURN) {
        dup();
      } else if (opcode == RETURN) {
        visitInsn(ACONST_NULL);
      } else {
        Type rt = Type.getReturnType(methodDesc);
        if (rt.getSize() == 2) dup2(); else dup();
        box(rt);
      }
      invokeStatic(Type.getType(Probe.class),
          org.apache.xbean.asm9.commons.Method.getMethod("void exit(Object)"));
    }

    @Override
    public void visitMaxs(int maxStack, int maxLocals) {
      visitTryCatchBlock(start, handler, handler, null);
      visitLabel(handler);
      invokeStatic(Type.getType(Probe.class),
          org.apache.xbean.asm9.commons.Method.getMethod("void exitThrown()"));
      visitInsn(ATHROW);
      super.visitMaxs(maxStack, maxLocals);
    }
  }
}
