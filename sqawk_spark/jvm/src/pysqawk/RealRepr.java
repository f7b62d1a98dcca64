package pysqawk;

import java.math.BigDecimal;
import java.math.MathContext;
import java.math.RoundingMode;
import org.apache.spark.sql.api.java.UDF1;

/**
 * CPython's {@code repr} of a double: the text sqlite3 and sqawk print
 * for a REAL value. Registered as the SQL function {@code py_real_repr}.
 *
 * <p>The digits are the shortest decimal that reads back as the same
 * double. At a precision p both p-digit neighbours of the exact value are
 * tried, because at a power of two the gap below the double is half the
 * gap above it; when both read back, the closer one wins, a tie going to
 * the even last digit. The work is in {@code long} arithmetic on the
 * exact value's first 18 digits. The layout follows CPython: exponent form when
 * the decimal point sits at or before the fourth place after it or more
 * than 16 places to the right of the first digit ({@code 1e-05},
 * {@code 1e+16}), a two-digit exponent at least, and {@code .0} on an
 * integral value.
 */
public final class RealRepr implements UDF1<Object, String> {
  private static final long serialVersionUID = 1L;

  private static final MathContext FIRST_18 = new MathContext(18, RoundingMode.DOWN);
  private static final long[] TEN = new long[19];
  // the powers of ten a double holds exactly
  private static final double[] TEN_D = new double[23];

  static {
    TEN[0] = 1;
    for (int i = 1; i < TEN.length; i++) {
      TEN[i] = TEN[i - 1] * 10;
    }
    TEN_D[0] = 1;
    for (int i = 1; i < TEN_D.length; i++) {
      TEN_D[i] = TEN_D[i - 1] * 10;
    }
  }

  /** Any number (a sum may be a long or a decimal) is read as its double. */
  @Override
  public String call(Object v) {
    return v == null ? null : repr(((Number) v).doubleValue());
  }

  public static String repr(double d) {
    if (Double.isNaN(d)) {
      return "nan";
    }
    if (Double.isInfinite(d)) {
      return d > 0 ? "inf" : "-inf";
    }
    String sign = Double.doubleToRawLongBits(d) < 0 ? "-" : "";
    if (d == 0) {
      return sign + "0.0";
    }
    double a = Math.abs(d);
    // the exact value's first 18 digits t, so that a = t / 10^scale
    // plus, when tail, something less than one unit of t's last digit
    BigDecimal exact = new BigDecimal(a);
    BigDecimal first = exact.round(FIRST_18);
    boolean tail = first.compareTo(exact) != 0;
    long t = first.unscaledValue().longValue();
    int scale = first.scale();
    int n = Long.toString(t).length();
    t *= TEN[18 - n];
    scale += 18 - n;
    // some p-digit neighbour reads back at every p from the shortest
    // up (a longer one lies between it and a), and a 17-digit one
    // always does: bisect for the shortest
    int lo = 1;
    int hi = 17;
    while (lo < hi) {
      int mid = (lo + hi) >>> 1;
      if (neighbour(t, tail, scale, a, mid) != 0) {
        hi = mid;
      } else {
        lo = mid + 1;
      }
    }
    long digits = neighbour(t, tail, scale, a, lo);
    int exp = -(scale - 18 + lo); // a is about digits * 10^exp
    while (digits % 10 == 0) {
      digits /= 10;
      exp++;
    }
    String s = Long.toString(digits);
    return sign + layout(s, s.length() + exp);
  }

  /**
   * The p-digit neighbour of a that reads back as a: the closer one when
   * both do, a tie going to the even digit; 0 when neither does. Its
   * value is the result times 10^(18 - p - scale).
   */
  private static long neighbour(long t, boolean tail, int scale, double a, int p) {
    long unit = TEN[18 - p];
    long down = t / unit;
    long gap = t % unit;
    if (gap == 0 && !tail) {
      return down;
    }
    int s = scale - (18 - p);
    boolean downBack = toDouble(down, s) == a;
    boolean upBack = toDouble(down + 1, s) == a;
    if (downBack && upBack) {
      int c = Long.compare(2 * gap, unit);
      if (c == 0 && tail) {
        c = 1;
      }
      return c < 0 || (c == 0 && down % 2 == 0) ? down : down + 1;
    }
    return downBack ? down : upBack ? down + 1 : 0;
  }

  /** The double nearest m / 10^s. */
  private static double toDouble(long m, int s) {
    if (m < (1L << 53) && s >= 0 && s < TEN_D.length) {
      return m / TEN_D[s]; // both exact, so one rounding
    }
    if (m < (1L << 53) && s < 0 && -s < TEN_D.length) {
      return m * TEN_D[-s];
    }
    return BigDecimal.valueOf(m, s).doubleValue();
  }

  private static String layout(String digits, int decpt) {
    int n = digits.length();
    StringBuilder b = new StringBuilder(n + 8);
    if (decpt <= -4 || decpt > 16) {
      b.append(digits.charAt(0));
      if (n > 1) {
        b.append('.').append(digits, 1, n);
      }
      int e = decpt - 1;
      b.append(e < 0 ? "e-" : "e+");
      if (Math.abs(e) < 10) {
        b.append('0');
      }
      return b.append(Math.abs(e)).toString();
    }
    if (decpt <= 0) {
      b.append("0.");
      for (int i = decpt; i < 0; i++) {
        b.append('0');
      }
      return b.append(digits).toString();
    }
    if (decpt >= n) {
      b.append(digits);
      for (int i = n; i < decpt; i++) {
        b.append('0');
      }
      return b.append(".0").toString();
    }
    return b.append(digits, 0, decpt).append('.').append(digits, decpt, n).toString();
  }
}
