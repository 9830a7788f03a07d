package graft.functions;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

/** Little-endian uint16 access to a byte array: one bounds-checked 2-byte
  * load or store instead of two byte accesses. Written in Java because the
  * JIT compiles a VarHandle access to a plain load or store only when the
  * handle is a {@code static final} field, which a Scala 2 object cannot
  * declare. */
final class Uint16LE {
  private static final VarHandle SHORTS =
      MethodHandles.byteArrayViewVarHandle(short[].class, ByteOrder.LITTLE_ENDIAN);

  private Uint16LE() {}

  /** Stores the low 16 bits of {@code value} at bytes {@code i, i + 1}. */
  static void put(byte[] b, int i, int value) {
    SHORTS.set(b, i, (short) value);
  }

  /** The uint16 at bytes {@code i, i + 1}, in [0, 65535]. */
  static int get(byte[] b, int i) {
    return (short) SHORTS.get(b, i) & 0xFFFF;
  }
}
