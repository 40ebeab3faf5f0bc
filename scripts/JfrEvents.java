import java.io.BufferedOutputStream;
import java.io.PrintWriter;
import java.nio.file.Path;
import java.util.List;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordingFile;

/**
 * Prints the events of a Java Flight Recording that scripts/forks.py
 * counts, one tab-separated line each:
 *
 *   kind  epoch-nanos  thread  phase  first-graft-frame  detail
 *
 * kind is `process` (jdk.ProcessStart; detail = command), `generated`
 * (jdk.ClassDefine of a class Spark's code generator compiled; detail =
 * class name) or `anchor` (any main-thread event whose stack shows the
 * benchmark phase it ran in). phase is read from the stack: the
 * outermost `graftbench.*` frame among setup, warm, op and finalChecks;
 * `-` when the stack shows none.
 *
 * Run with the JDK's single-file launcher: java scripts/JfrEvents.java REC.jfr
 */
public class JfrEvents {
    static final String GENERATED = "org.apache.spark.sql.catalyst.expressions.GeneratedClass";

    public static void main(String[] args) throws Exception {
        try (RecordingFile rec = new RecordingFile(Path.of(args[0]));
             PrintWriter out = new PrintWriter(new BufferedOutputStream(System.out))) {
            while (rec.hasMoreEvents()) {
                RecordedEvent e = rec.readEvent();
                String type = e.getEventType().getName();
                String thread = e.getThread() == null ? "?" : e.getThread().getJavaName();
                List<RecordedFrame> frames =
                    e.getStackTrace() == null ? List.of() : e.getStackTrace().getFrames();
                String kind = null;
                String detail = "-";
                if (type.equals("jdk.ProcessStart")) {
                    kind = "process";
                    detail = e.getString("command");
                } else if (type.equals("jdk.ClassDefine")
                        && e.getClass("definedClass").getName().startsWith(GENERATED)) {
                    kind = "generated";
                    detail = e.getClass("definedClass").getName();
                }
                String phase = phase(frames);
                if (kind == null && "main".equals(thread) && !phase.equals("-")) kind = "anchor";
                if (kind == null) continue;
                long t = e.getStartTime().getEpochSecond() * 1_000_000_000L + e.getStartTime().getNano();
                out.println(String.join("\t", kind, Long.toString(t), thread, phase,
                    firstGraftFrame(frames), detail.replace('\t', ' ').replace('\n', ' ')));
            }
        }
    }

    /** The benchmark phase of the outermost graftbench phase frame. */
    static String phase(List<RecordedFrame> frames) {
        for (int i = frames.size() - 1; i >= 0; i--) {
            RecordedFrame f = frames.get(i);
            if (!f.getMethod().getType().getName().startsWith("graftbench.")) continue;
            switch (f.getMethod().getName()) {
                case "setup": return "setup";
                case "warm": return "warm-up";
                case "op": return "measured";
                case "finalChecks": return "final checks";
                default:
            }
        }
        return "-";
    }

    /** The innermost graft method on the stack, `-` when none. */
    static String firstGraftFrame(List<RecordedFrame> frames) {
        for (RecordedFrame f : frames) {
            String cls = f.getMethod().getType().getName();
            if (cls.startsWith("graft.")) return cls + "." + f.getMethod().getName();
        }
        return "-";
    }
}
