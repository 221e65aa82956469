package etl_lala_spark.sources.jvm;

import java.io.ByteArrayOutputStream;
import java.io.File;
import java.io.FileOutputStream;
import java.io.IOException;
import java.io.InputStream;
import java.io.OutputStream;
import java.net.HttpURLConnection;
import java.net.MalformedURLException;
import java.net.URL;
import java.net.URLConnection;
import java.nio.charset.Charset;
import java.nio.charset.StandardCharsets;
import java.nio.file.CopyOption;
import java.nio.file.Files;
import java.nio.file.StandardCopyOption;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Enumeration;
import java.util.List;
import java.util.Locale;
import java.util.zip.CRC32;

import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.commons.compress.archivers.zip.ZipArchiveEntry;
import org.apache.commons.compress.archivers.zip.ZipFile;
import org.apache.commons.compress.utils.SeekableInMemoryByteChannel;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

/**
 * JVM side of the DATASUS ingest chain and the web crawl's fetches: the
 * staging, ranged and conditional HTTP fetches, ZIP member expansion,
 * PKWare DCL explode and the dBase III record split, as Spark Java UDFs so
 * they run no Python worker. An instance's public methods build each plan
 * in one call, so the driver makes a fixed number of py4j round trips
 * whatever the width.
 *
 * <p>Compiled at first use by Spark's bundled Janino (see
 * {@code etl_lala_spark/sources/_jvm.py}), so it keeps to the subset Janino
 * compiles: raw collection types, no diamond operator, no
 * try-with-resources. Each decode mirrors its Python reference
 * ({@code implode.decompress}, {@code dbc.parse_dbf_columns},
 * {@code zipfile}) and each fetch {@code urllib}, including the Python
 * exception class names that error rows report.
 */
public class DbcCodec {

    /** A codec failure tagged with the Python exception class it stands for. */
    public static class DecodeError extends RuntimeException {
        public final String kind;
        public final String detail;

        public DecodeError(String kind, String detail) {
            super(kind + ": " + detail);
            this.kind = kind;
            this.detail = detail;
        }
    }

    /**
     * The exception a failing task raises. DecodeError's class lives in the
     * codec jar, which the driver's task-result deserializer cannot load,
     * so its text travels in a JDK exception.
     */
    static Exception failFast(Exception ex) {
        return ex instanceof DecodeError ? new IllegalArgumentException(ex.getMessage()) : ex;
    }

    static String errorText(Exception ex, String fallbackKind, int maxDetail) {
        if (ex instanceof DecodeError) {
            DecodeError de = (DecodeError) ex;
            return de.kind + ": " + clip(de.detail, maxDetail);
        }
        return fallbackKind + ": " + clip(String.valueOf(ex.getMessage()), maxDetail);
    }

    /** A two-argument UDF that returns an array of structs of its own shape. */
    public abstract static class Codec implements UDF2 {
        /** The struct's fields, as DDL. */
        abstract String schema();

        /** The UDF with its return type, the overload py4j cannot pick itself. */
        public UserDefinedFunction udf() {
            return functions.udf(this, DataTypes.createArrayType(StructType.fromDDL(schema())));
        }
    }

    /** The one-row array a single-row codec returns. */
    static Object[] one(Object[] values) {
        return new Object[] {RowFactory.create(values)};
    }

    static String clip(String s, int max) {
        return s.length() > max ? s.substring(0, max) : s;
    }

    // ---- PKWare DCL explode (port of implode.decompress) -------------------

    static final int MAXBITS = 13;
    static final int[] LEN_BASE = {3, 2, 4, 5, 6, 7, 8, 9, 10, 12, 16, 24, 40, 72, 136, 264};
    static final int[] LEN_EXTRA = {0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7, 8};
    static final int END_LENGTH = 519;
    static final int MAX_ARRAY = Integer.MAX_VALUE - 16;

    /** Canonical Huffman table: codes per length and symbols in code order. */
    static final class Huffman {
        final int[] count = new int[MAXBITS + 1];
        final int[] symbol;

        Huffman(int[] compact) {
            int n = 0;
            for (int i = 0; i < compact.length; i++) {
                n += (compact[i] >> 4) + 1;
            }
            int[] lengths = new int[n];
            int k = 0;
            for (int i = 0; i < compact.length; i++) {
                for (int r = 0; r <= compact[i] >> 4; r++) {
                    lengths[k++] = compact[i] & 15;
                }
            }
            for (int s = 0; s < n; s++) {
                count[lengths[s]]++;
            }
            int[] offs = new int[MAXBITS + 2];
            for (int ln = 1; ln <= MAXBITS; ln++) {
                offs[ln + 1] = offs[ln] + count[ln];
            }
            symbol = new int[offs[MAXBITS + 1]];
            for (int s = 0; s < n; s++) {
                if (lengths[s] != 0) {
                    symbol[offs[lengths[s]]++] = s;
                }
            }
        }
    }

    static final Huffman LIT = new Huffman(new int[] {
        11, 124, 8, 7, 28, 7, 188, 13, 76, 4, 10, 8, 12, 10, 12, 10, 8, 23, 8,
        9, 7, 6, 7, 8, 7, 6, 55, 8, 23, 24, 12, 11, 7, 9, 11, 12, 6, 7, 22, 5,
        7, 24, 6, 11, 9, 6, 7, 22, 7, 11, 38, 7, 9, 8, 25, 11, 8, 11, 9, 12,
        8, 12, 5, 38, 5, 38, 5, 11, 7, 5, 6, 21, 6, 10, 53, 8, 7, 24, 10, 27,
        44, 253, 253, 253, 252, 252, 252, 13, 12, 45, 12, 45, 12, 61, 12, 45,
        44, 173});
    static final Huffman LEN = new Huffman(new int[] {2, 35, 36, 53, 38, 23});
    static final Huffman DIST = new Huffman(new int[] {2, 20, 53, 230, 247, 151, 248});

    /** One explode run: LSB-first bit reader plus a growable output buffer. */
    static final class Explode {
        final byte[] in;
        int pos;
        int bitbuf;
        int bitcnt;
        byte[] out;
        int outLen;
        final int base;

        Explode(byte[] in, int start, byte[] prefix, int prefixLen, int capacity) {
            this.in = in;
            this.pos = start;
            this.out = Arrays.copyOf(prefix, Math.max(prefixLen + 1024, capacity));
            this.outLen = prefixLen;
            this.base = prefixLen;
        }

        int bits(int need) {
            while (bitcnt < need) {
                if (pos >= in.length) {
                    throw new DecodeError("CorruptError", "ran out of input");
                }
                bitbuf |= (in[pos++] & 0xFF) << bitcnt;
                bitcnt += 8;
            }
            int val = bitbuf & ((1 << need) - 1);
            bitbuf >>>= need;
            bitcnt -= need;
            return val;
        }

        int decode(Huffman h) {
            int code = 0;
            int first = 0;
            int index = 0;
            for (int ln = 1; ln <= MAXBITS; ln++) {
                if (bitcnt == 0) {
                    if (pos >= in.length) {
                        throw new DecodeError("CorruptError", "ran out of input in code");
                    }
                    bitbuf = in[pos++] & 0xFF;
                    bitcnt = 8;
                }
                code |= (bitbuf & 1) ^ 1; // code bits are stored inverted
                bitbuf >>>= 1;
                bitcnt--;
                int cnt = h.count[ln];
                if (code - first < cnt) {
                    return h.symbol[index + (code - first)];
                }
                index += cnt;
                first = (first + cnt) << 1;
                code <<= 1;
            }
            throw new DecodeError("CorruptError", "code longer than max bits");
        }

        void room(int n) {
            if (outLen + n > out.length) {
                long want = Math.max(2L * out.length, (long) outLen + n);
                if (want > MAX_ARRAY) {
                    want = MAX_ARRAY;
                    if ((long) outLen + n > MAX_ARRAY) {
                        throw new DecodeError("CorruptError", "output exceeds a JVM array");
                    }
                }
                out = Arrays.copyOf(out, (int) want);
            }
        }

        void run() {
            if (in.length - pos < 2) {
                throw new DecodeError("CorruptError", "input too short for implode header");
            }
            int coded = in[pos++] & 0xFF;
            int dictBits = in[pos++] & 0xFF;
            if (coded > 1) {
                throw new DecodeError("CorruptError", "bad literal flag " + coded);
            }
            if (dictBits < 4 || dictBits > 6) {
                throw new DecodeError("CorruptError", "bad dictionary size " + dictBits);
            }
            while (true) {
                if (bits(1) == 0) {
                    room(1);
                    out[outLen++] = (byte) (coded == 1 ? decode(LIT) : bits(8));
                    continue;
                }
                int sym = decode(LEN);
                int length = LEN_BASE[sym] + bits(LEN_EXTRA[sym]);
                if (length == END_LENGTH) {
                    return;
                }
                int nbits = length == 2 ? 2 : dictBits;
                int dist = (decode(DIST) << nbits) + bits(nbits) + 1;
                if (dist > outLen - base) {
                    throw new DecodeError("CorruptError", "distance " + dist + " beyond output " + (outLen - base));
                }
                room(length);
                int from = outLen - dist;
                for (int i = 0; i < length; i++) {
                    out[outLen + i] = out[from + i]; // forward copy repeats an overlapping tail
                }
                outLen += length;
            }
        }
    }

    /** Decompress a bare implode stream (the differential-test entry point). */
    public static byte[] explode(byte[] data) {
        Explode ex = new Explode(data, 0, new byte[0], 0, 2 * data.length);
        ex.run();
        return Arrays.copyOf(ex.out, ex.outLen);
    }

    static int u16(byte[] d, int off) {
        return (d[off] & 0xFF) | (d[off + 1] & 0xFF) << 8;
    }

    static long dbfBodyBytes(byte[] d) {
        long nRecords = (d[4] & 0xFFL) | (d[5] & 0xFFL) << 8 | (d[6] & 0xFFL) << 16 | (d[7] & 0xFFL) << 24;
        return nRecords * u16(d, 10);
    }

    /** {@code .dbc} bytes to DBF bytes: verbatim header, CRC skipped, exploded body. */
    static Explode dbcToDbf(byte[] data) {
        if (data.length < 12) {
            throw new DecodeError("ValueError", "not a .dbc: shorter than a DBF header prefix");
        }
        int headerLen = u16(data, 8);
        if (headerLen < 32 || headerLen + 4 > data.length) {
            throw new DecodeError("ValueError", "not a .dbc: implausible header length " + headerLen);
        }
        // The header's record count sizes the buffer; a hostile count is
        // capped by what the compressed body could plausibly expand to.
        long declared = headerLen + dbfBodyBytes(data) + 1;
        int capacity = (int) Math.min(Math.min(declared, headerLen + 8L * data.length), MAX_ARRAY);
        Explode ex = new Explode(data, headerLen + 4, data, headerLen, capacity);
        ex.run();
        return ex;
    }

    // ---- dBase III record split (port of dbc.parse_dbf_columns) ------------

    /** Python's str.isspace() over latin1: Java's set plus 0x85 and 0xA0. */
    static boolean pySpace(int b) {
        return (b >= 0x09 && b <= 0x0D) || (b >= 0x1C && b <= 0x20) || b == 0x85 || b == 0xA0;
    }

    static String latin1Strip(byte[] d, int from, int to) {
        while (from < to && pySpace(d[from] & 0xFF)) {
            from++;
        }
        while (to > from && pySpace(d[to - 1] & 0xFF)) {
            to--;
        }
        return new String(d, from, to - from, StandardCharsets.ISO_8859_1);
    }

    static String pyList(String[] names) {
        StringBuilder sb = new StringBuilder("[");
        for (int i = 0; i < Math.min(3, names.length); i++) {
            sb.append(i == 0 ? "'" : ", '").append(names[i]).append('\'');
        }
        return sb.append(']').toString();
    }

    /**
     * Split DBF bytes {@code d[0, len)} into rows of stripped latin1 strings
     * plus a trailing NULL error field: deleted rows (0x2A) skipped, at most
     * {@code min(n_records, body / record_len)} rows read, {@code limit}
     * rows kept, only {@code project} fields decoded (all when null). The
     * header's selected names must equal {@code expected}.
     */
    static Object[] split(byte[] d, int len, String file, int limit, String[] project, String[] expected) {
        if (len < 12) {
            throw new DecodeError("ValueError", "not a DBF: shorter than a header prefix");
        }
        int headerLen = u16(d, 8);
        int recordLen = u16(d, 10);
        int maxFields = len / 32;
        String[] names = new String[maxFields];
        int[] fo = new int[maxFields];
        int[] fl = new int[maxFields];
        int nSel = 0;
        int fieldOff = 1;
        for (int off = 32; off < len && d[off] != 0x0D; off += 32) {
            int nameEnd = off;
            while (nameEnd < Math.min(off + 11, len) && d[nameEnd] != 0) {
                nameEnd++;
            }
            if (off + 16 >= len) {
                throw new DecodeError("IndexError", "index out of range");
            }
            String name = latin1Strip(d, off, nameEnd);
            int flen = d[off + 16] & 0xFF;
            if (project == null || Arrays.asList(project).contains(name)) {
                names[nSel] = name;
                fo[nSel] = fieldOff;
                fl[nSel++] = flen;
            }
            fieldOff += flen;
        }
        if (recordLen == 0) {
            throw new DecodeError("ZeroDivisionError", "integer division or modulo by zero");
        }
        String[] got = (String[]) Arrays.copyOf(names, nSel);
        if (!Arrays.equals(got, expected)) {
            throw new DecodeError("ValueError",
                file + ": columns " + pyList(got) + "... != expected " + pyList(expected) + "...");
        }
        long start = Math.min(headerLen, len);
        long end = Math.min(headerLen + dbfBodyBytes(d), (long) len);
        long nAvail = Math.max(0L, end - start) / recordLen;
        ArrayList rows = new ArrayList();
        for (long r = 0; r < nAvail && rows.size() < limit; r++) {
            int row = (int) (start + r * recordLen);
            if (d[row] == 0x2A) {
                continue;
            }
            int rowEnd = row + recordLen;
            Object[] vals = new Object[nSel + 1];
            for (int i = 0; i < nSel; i++) {
                int a = Math.min(row + fo[i], rowEnd);
                vals[i] = latin1Strip(d, a, Math.min(a + fl[i], rowEnd));
            }
            rows.add(RowFactory.create(vals));
        }
        return rows.toArray();
    }

    /**
     * (member name, DBF or DBC bytes) to an array of
     * {@code struct<_c0..._cN string, _e string>} rows. Under
     * {@code permissive} a failed file becomes one row of NULL fields with
     * {@code _e} set to {@code "<Class>: <message cut to 100 chars>"};
     * otherwise the failure is raised.
     */
    public static class Records extends Codec {
        private final boolean dbc;
        private final int limit;
        private final String[] project;
        private final String[] expected;
        private final boolean permissive;

        public Records(boolean dbc, int limit, String[] project, String[] expected, boolean permissive) {
            this.dbc = dbc;
            this.limit = limit;
            this.project = project;
            this.expected = expected;
            this.permissive = permissive;
        }

        String schema() {
            StringBuilder ddl = new StringBuilder();
            for (int i = 0; i < expected.length; i++) {
                ddl.append("_c").append(i).append(" string, ");
            }
            return ddl.append("_e string").toString();
        }

        public Object call(Object name, Object content) throws Exception {
            byte[] blob = (byte[]) content;
            try {
                if (dbc) {
                    Explode dbf = dbcToDbf(blob);
                    return split(dbf.out, dbf.outLen, (String) name, limit, project, expected);
                }
                return split(blob, blob.length, (String) name, limit, project, expected);
            } catch (RuntimeException ex) {
                if (!permissive) {
                    throw failFast(ex);
                }
                Object[] vals = new Object[expected.length + 1];
                vals[expected.length] = errorText(ex, ex.getClass().getSimpleName(), 100);
                return one(vals);
            }
        }
    }

    // ---- ZIP member expansion ---------------------------------------------

    static final Charset CP437 = Charset.forName("IBM437");

    /**
     * Read one member: at most its declared size + 1 bytes, so a member
     * that inflates past its directory entry fails without being inflated,
     * then the CRC-32 check Python's zipfile makes.
     */
    static byte[] readMember(ZipFile zf, ZipArchiveEntry entry) throws IOException {
        long declared = entry.getSize();
        String name = entry.getName();
        InputStream in = zf.getInputStream(entry);
        try {
            ByteArrayOutputStream buf = new ByteArrayOutputStream((int) Math.max(0L, Math.min(declared, 1L << 20)));
            byte[] chunk = new byte[65536];
            long total = 0;
            while (total <= declared) {
                int got = in.read(chunk, 0, (int) Math.min(chunk.length, declared + 1 - total));
                if (got < 0) {
                    break;
                }
                buf.write(chunk, 0, got);
                total += got;
            }
            if (total != declared) {
                throw new DecodeError("BadZipFile", "member " + name
                    + (total > declared ? " inflates past" : " ends before") + " its declared " + declared + " bytes");
            }
            byte[] data = buf.toByteArray();
            CRC32 crc = new CRC32();
            crc.update(data, 0, data.length);
            if (crc.getValue() != entry.getCrc()) {
                throw new DecodeError("BadZipFile", "Bad CRC-32 for file '" + name + "'");
            }
            return data;
        } finally {
            in.close();
        }
    }

    /**
     * (archive path, ZIP bytes) to an array of
     * {@code struct<member string, content binary, error string>} rows, one
     * per file member whose lowercased name ends with {@code suffix} (all
     * when null), in central-directory order. A member declaring more than
     * {@code maxMemberBytes} is refused before any byte is inflated. Under
     * {@code permissive} refusals and an undecodable archive become error
     * rows and the members read before the failure are kept; otherwise the
     * failure is raised.
     */
    public static class Members extends Codec {
        private final String suffix;
        private final long maxMemberBytes;
        private final boolean permissive;

        public Members(String suffix, long maxMemberBytes, boolean permissive) {
            this.suffix = suffix;
            this.maxMemberBytes = maxMemberBytes;
            this.permissive = permissive;
        }

        String schema() {
            return "member string, content binary, error string";
        }

        public Object call(Object path, Object content) throws Exception {
            ArrayList out = new ArrayList();
            ZipFile zf = null;
            try {
                ZipFile.Builder builder = ZipFile.builder();
                builder.setCharset(CP437);
                builder.setUseUnicodeExtraFields(false);
                builder.setSeekableByteChannel(new SeekableInMemoryByteChannel((byte[]) content));
                zf = (ZipFile) builder.get();
                Enumeration entries = zf.getEntries();
                while (entries.hasMoreElements()) {
                    ZipArchiveEntry entry = (ZipArchiveEntry) entries.nextElement();
                    String name = entry.getName();
                    if (entry.isDirectory()
                        || (suffix != null && !name.toLowerCase(Locale.ROOT).endsWith(suffix))) {
                        continue;
                    }
                    if (entry.getSize() > maxMemberBytes) {
                        String msg = "member " + name + " declares " + entry.getSize() + " bytes > cap " + maxMemberBytes;
                        if (!permissive) {
                            throw new DecodeError("ValueError", path + ": " + msg);
                        }
                        out.add(RowFactory.create(new Object[] {name, null, "ValueError: " + msg}));
                        continue;
                    }
                    out.add(RowFactory.create(new Object[] {name, readMember(zf, entry), null}));
                }
            } catch (Exception ex) {
                if (!permissive) {
                    throw failFast(ex);
                }
                out.add(RowFactory.create(new Object[] {null, null, clip(errorText(ex, "BadZipFile", 500), 500)}));
            } finally {
                ZipFile.closeQuietly(zf);
            }
            return out.toArray();
        }
    }

    // ---- HTTP fetch (reference S5 + R2/R5: urllib semantics) ---------------

    /** Python's {@code os.path.join(dir, name)}. */
    static String pyJoin(String dir, String name) {
        if (name.startsWith("/") || dir.isEmpty()) {
            return name;
        }
        return dir.endsWith("/") ? dir + name : dir + "/" + name;
    }

    /** Python's {@code url.rstrip("/").rsplit("/", 1)[-1] or "index"}. */
    static String basename(String url) {
        int end = url.length();
        while (end > 0 && url.charAt(end - 1) == '/') {
            end--;
        }
        String base = url.substring(url.lastIndexOf('/', end - 1) + 1, end);
        return base.isEmpty() ? "index" : base;
    }

    /**
     * Open {@code url} as {@code urllib.request.urlopen} would, sending
     * {@code headers} (name, value pairs; a pair whose value is null is not
     * sent): a status outside 2xx is an {@code HTTPError} with urllib's
     * text, except a 304 answering a validator ({@code If-*}) header; a URL
     * without a scheme is a {@code ValueError}, and every other failure to
     * open a {@code URLError}. The returned connection is connected.
     */
    static URLConnection open(String url, String[] headers) {
        URL u;
        try {
            u = new URL(url);
        } catch (MalformedURLException ex) {
            int colon = url.indexOf(':');
            if (colon < 0) {
                throw new DecodeError("ValueError", "unknown url type: '" + url + "'");
            }
            throw new DecodeError("URLError", "<urlopen error unknown url type: " + url.substring(0, colon) + ">");
        }
        try {
            if ("file".equals(u.getProtocol()) && new File(u.getPath()).isDirectory()) {
                throw new IOException("[Errno 21] Is a directory: '" + u.getPath() + "'");
            }
            URLConnection conn = u.openConnection();
            boolean validators = false;
            for (int i = 0; i < headers.length; i += 2) {
                if (headers[i + 1] != null) {
                    conn.setRequestProperty(headers[i], headers[i + 1]);
                    validators = validators || headers[i].startsWith("If-");
                }
            }
            conn.connect();
            if (conn instanceof HttpURLConnection) {
                HttpURLConnection http = (HttpURLConnection) conn;
                int code = http.getResponseCode();
                if ((code < 200 || code >= 300) && !(code == 304 && validators)) {
                    String reason = http.getResponseMessage();
                    http.disconnect();
                    throw new DecodeError("HTTPError", "HTTP Error " + code + ": " + reason);
                }
            }
            return conn;
        } catch (IOException ex) {
            throw new DecodeError("URLError", "<urlopen error " + ex.getMessage() + ">");
        }
    }

    /** The HTTP status of an open connection, or null for a non-HTTP source. */
    static Integer status(URLConnection conn) throws IOException {
        return conn instanceof HttpURLConnection ? Integer.valueOf(((HttpURLConnection) conn).getResponseCode()) : null;
    }

    /**
     * Move at most {@code limit} bytes from {@code in} to {@code out} (null
     * discards them) in reads of at most 1 MiB; returns how many moved.
     */
    static long copy(InputStream in, OutputStream out, long limit) throws IOException {
        byte[] chunk = new byte[(int) Math.max(1L, Math.min(limit, 1L << 20))];
        long got = 0;
        while (got < limit) {
            int n = in.read(chunk, 0, (int) Math.min(chunk.length, limit - got));
            if (n < 0) {
                break;
            }
            if (out != null) {
                out.write(chunk, 0, n);
            }
            got += n;
        }
        return got;
    }

    /** The body crossed the cap: permanent, never retried, reported as ValueError. */
    static final class CapExceeded extends DecodeError {
        CapExceeded(String detail) {
            super("ValueError", detail);
        }
    }

    /**
     * A fetch request shape: a UDF of (url, the request's argument) to a
     * one-row array, made by the one attempt loop in {@link #call}.
     */
    public abstract static class Fetch extends Codec {
        final long maxBytes;
        final int retries;
        final double backoffS;

        Fetch(long maxBytes, int retries, double backoffS) {
            this.maxBytes = maxBytes;
            this.retries = retries;
            this.backoffS = backoffS;
        }

        /** One request: its row, or an exception that fails the attempt. */
        abstract Object[] attempt(String url, Object arg, int attempt) throws Exception;

        /** The row of a fetch that ended in {@code error} after {@code attempts}. */
        abstract Object[] failed(Object url, Object arg, int attempts, String error);

        /** The row of a request that is not sent (no attempt is made), or null. */
        Object[] unsent(String url, Object arg) {
            return null;
        }

        /**
         * A NULL url is an error row after 0 attempts; otherwise up to
         * {@code retries + 1} attempts, {@code backoffS * 2^(attempt-1)}
         * seconds apart. The cap is never retried, and the last error,
         * clipped to 500 characters, lands in the row.
         */
        public Object call(Object url, Object arg) throws Exception {
            Object[] unsent = url == null ? failed(url, arg, 0, "ValueError: url is NULL") : unsent((String) url, arg);
            if (unsent != null) {
                return unsent;
            }
            String error = null;
            int attempt = 0;
            while (attempt <= retries) {
                attempt++;
                try {
                    return attempt((String) url, arg, attempt);
                } catch (Exception ex) {
                    error = clip(errorText(ex, ex.getClass().getSimpleName(), 500), 500);
                    if (ex instanceof CapExceeded) {
                        break;
                    }
                    if (attempt <= retries) {
                        Thread.sleep(Math.round(backoffS * 1000.0 * Math.pow(2, attempt - 1)));
                    }
                }
            }
            return failed(url, arg, attempt, error);
        }

        /** Stream a whole body to {@code out}; past {@code maxBytes} it fails. */
        long capped(InputStream in, OutputStream out) throws IOException {
            try {
                long got = copy(in, out, maxBytes + 1);
                if (got > maxBytes) {
                    throw new CapExceeded("body exceeds max_bytes=" + maxBytes);
                }
                return got;
            } finally {
                in.close();
            }
        }
    }

    /**
     * (url, name) to (url, dest, n_bytes, status, attempts, error): the
     * contract of {@code fetch.fetch_to_staging}. {@code name} is ignored
     * unless {@code named}; the URL's basename stands in for it.
     */
    public static class Staging extends Fetch {
        private final String stagingDir;
        private final boolean named;

        public Staging(String stagingDir, boolean named, long maxBytes, int retries, double backoffS) {
            super(maxBytes, retries, backoffS);
            this.stagingDir = stagingDir;
            this.named = named;
        }

        String schema() {
            return "url string, dest string, n_bytes bigint, status string, attempts int, error string";
        }

        static Object[] row(Object url, String dest, long nBytes, String status, int attempts, String error) {
            return one(new Object[] {url, dest, Long.valueOf(nBytes), status, Integer.valueOf(attempts), error});
        }

        String dest(Object url, Object name) {
            if (named) {
                return pyJoin(stagingDir, String.valueOf(name));
            }
            return url == null ? null : pyJoin(stagingDir, basename((String) url));
        }

        Object[] unsent(String url, Object name) {
            String dest = dest(url, name);
            File target = new File(dest);
            if (target.isFile() && target.length() > 0) {
                return row(url, dest, target.length(), "skipped", 0, null);
            }
            new File(stagingDir).mkdirs();
            return null;
        }

        /** Write-then-rename, so a killed task never leaves a file a replay would skip. */
        Object[] attempt(String url, Object name, int attempt) throws Exception {
            String dest = dest(url, name);
            File part = new File(dest + ".part");
            OutputStream out = new FileOutputStream(part);
            try {
                long got = capped(open(url, new String[0]).getInputStream(), out);
                out.close();
                Files.move(part.toPath(), new File(dest).toPath(), new CopyOption[] {StandardCopyOption.ATOMIC_MOVE});
                return row(url, dest, got, "ok", attempt, null);
            } finally {
                out.close();
                part.delete();
            }
        }

        Object[] failed(Object url, Object name, int attempts, String error) {
            return row(url, dest(url, name), 0, "error", attempts, error);
        }
    }

    /**
     * (url, struct(offset, length)) to (url, offset, length, content,
     * fetch_status, status, attempts, error): the contract of
     * {@code fetch.fetch_ranges}.
     */
    public static class Ranged extends Fetch {
        public Ranged(long maxBytes, int retries, double backoffS) {
            super(maxBytes, retries, backoffS);
        }

        String schema() {
            return "url string, offset bigint, length bigint, content binary, fetch_status int, status string,"
                + " attempts int, error string";
        }

        static Object[] row(Object url, Row range, byte[] content, Integer code, String status, int attempts,
                            String error) {
            return one(new Object[] {
                url, range.get(0), range.get(1), content, code, status, Integer.valueOf(attempts), error});
        }

        Object[] unsent(String url, Object arg) {
            Row range = (Row) arg;
            String error = range.isNullAt(0) ? "offset is NULL" : range.isNullAt(1) ? "length is NULL"
                : range.getLong(1) > maxBytes ? "range exceeds max_bytes=" + maxBytes : null;
            return error == null ? null : failed(url, arg, 0, "ValueError: " + error);
        }

        Object[] attempt(String url, Object arg, int attempt) throws Exception {
            Row range = (Row) arg;
            long off = range.getLong(0);
            long n = range.getLong(1);
            URLConnection conn = open(url, new String[] {"Range", "bytes=" + off + "-" + (off + n - 1)});
            Integer code = status(conn);
            InputStream in = conn.getInputStream();
            ByteArrayOutputStream body = new ByteArrayOutputStream();
            try {
                // a 206 body is the range as it came; from a source without
                // range support the bytes before the offset are discarded
                // while streaming, so the cap bounds the range length only
                if (code != null && code.intValue() == 206) {
                    copy(in, body, n + 1);
                } else if (copy(in, null, off) == off) {
                    copy(in, body, n);
                }
            } finally {
                in.close();
            }
            if (body.size() != n) { // not retried: the file will not grow
                return row(url, range, null, code, "error", attempt, "short_range: got " + body.size() + " of " + n);
            }
            return row(url, range, body.toByteArray(), code, "ok", attempt, null);
        }

        Object[] failed(Object url, Object arg, int attempts, String error) {
            return row(url, (Row) arg, null, null, "error", attempts, error);
        }
    }

    /**
     * (url, struct(etag, last_modified)) to (url, status, fetch_status,
     * content, n_bytes, etag, last_modified, attempts, error): the contract
     * of {@code fetch.fetch_conditional}.
     */
    public static class Conditional extends Fetch {
        public Conditional(long maxBytes, int retries, double backoffS) {
            super(maxBytes, retries, backoffS);
        }

        String schema() {
            return "url string, status string, fetch_status int, content binary, n_bytes bigint, etag string,"
                + " last_modified string, attempts int, error string";
        }

        static Object[] row(Object url, String status, Integer code, byte[] content, String etag,
                            String lastModified, int attempts, String error) {
            Long n = Long.valueOf(content == null ? 0 : content.length);
            return one(new Object[] {url, status, code, content, n, etag, lastModified, Integer.valueOf(attempts), error});
        }

        Object[] attempt(String url, Object arg, int attempt) throws Exception {
            Row prior = (Row) arg;
            String etag = prior.getString(0);
            String lastModified = prior.getString(1);
            URLConnection conn = open(url, new String[] {"If-None-Match", etag, "If-Modified-Since", lastModified});
            Integer code = status(conn);
            if (code != null && code.intValue() == 304) {
                conn.getInputStream().close();
                // RFC 9110 §15.4.5: stored validators stay in force
                return row(url, "not_modified", code, null, etag, lastModified, attempt, null);
            }
            ByteArrayOutputStream body = new ByteArrayOutputStream();
            capped(conn.getInputStream(), body);
            return code == null
                ? row(url, "ok", null, body.toByteArray(), null, null, attempt, null)
                : row(url, "ok", code, body.toByteArray(), conn.getHeaderField("ETag"),
                      conn.getHeaderField("Last-Modified"), attempt, null);
        }

        Object[] failed(Object url, Object arg, int attempts, String error) {
            return row(url, "error", null, null, null, null, attempts, error);
        }
    }

    // ---- plan builders -----------------------------------------------------

    static final ObjectMapper JSON = new ObjectMapper();

    /** A JSON list of names, or JSON null: one py4j argument at any length. */
    static String[] names(String json) throws IOException {
        return (String[]) JSON.readValue(json, String[].class);
    }

    static Column col(String name) {
        return functions.col(name);
    }

    /**
     * A fetch shape over (url, arg) under inline: nondeterministic, so it
     * runs once per plan row in the plan's own tasks (a Generate is not
     * folded into a local relation, which would run it while optimizing).
     */
    static Dataset fetched(Dataset plan, Fetch shape, String urlCol, Column arg) {
        Column rows = shape.udf().asNondeterministic().apply(new Column[] {col(urlCol), arg});
        return plan.select(new Column[] {functions.inline(rows)});
    }

    /** fetch_to_staging. */
    public Dataset fetch(Dataset manifest, String urlCol, String nameCol, String stagingDir,
                         long maxBytes, int retries, double backoffS) {
        Column name = nameCol == null ? functions.lit(null) : col(nameCol);
        return fetched(manifest, new Staging(stagingDir, nameCol != null, maxBytes, retries, backoffS), urlCol, name);
    }

    /** fetch_ranges. */
    public Dataset fetchRanges(Dataset plan, String urlCol, String offsetCol, String lengthCol,
                               long maxBytes, int retries, double backoffS) {
        Column range = functions.struct(new Column[] {col(offsetCol).cast("bigint"), col(lengthCol).cast("bigint")});
        return fetched(plan, new Ranged(maxBytes, retries, backoffS), urlCol, range);
    }

    /** fetch_conditional. */
    public Dataset fetchConditional(Dataset plan, String urlCol, String etagCol, String lastModifiedCol,
                                    long maxBytes, int retries, double backoffS) {
        Column prior = functions.struct(new Column[] {col(etagCol).cast("string"), col(lastModifiedCol).cast("string")});
        return fetched(plan, new Conditional(maxBytes, retries, backoffS), urlCol, prior);
    }

    /** extract_archive_members: the Members UDF per archive, exploded. */
    public Dataset members(Dataset archives, String suffix, long maxMemberBytes, boolean permissive) {
        Column members = new Members(suffix, maxMemberBytes, permissive).udf()
            .apply(new Column[] {col("path"), col("content")});
        String[] out = {"archive", "member", "substring_index(member, '/', -1) AS member_basename", "content",
            "CAST(coalesce(length(content), 0) AS BIGINT) AS n_bytes", "error AS _error"};
        return archives.select(new Column[] {col("path").alias("archive"), functions.inline(members)})
            .selectExpr(permissive ? out : (String[]) Arrays.copyOf(out, out.length - 1));
    }

    /** infer_dbf_columns: the first row's leading 64 KiB of {@code contentCol}, or null. */
    public byte[] head(Dataset binaries, String contentCol) {
        List rows = binaries.select(new Column[] {functions.substring(col(contentCol), 1, 65535).alias("head")})
            .limit(1).collectAsList();
        return rows.isEmpty() ? null : (byte[]) ((Row) rows.get(0)).get(0);
    }

    /**
     * read_dbc / read_dbf: the Records UDF per file, exploded, its
     * positional fields renamed to {@code columns} (JSON), then
     * arquivo_origem and, under permissive, _decode_error.
     */
    public Dataset records(Dataset binaries, String nameCol, String contentCol, boolean dbc, int limit,
                           String project, String columns, boolean permissive) throws IOException {
        String[] cols = names(columns);
        Column records = new Records(dbc, limit, names(project), cols, permissive).udf()
            .apply(new Column[] {col(nameCol), col(contentCol)});
        Column origem = functions.regexp_replace(col(nameCol), "\\.[^.]*\\z", ""); // rsplit(".", 1)[0]
        Dataset split = binaries.select(new Column[] {origem.alias("_o"), functions.inline(records)});
        Column[] out = new Column[cols.length + (permissive ? 2 : 1)];
        for (int i = 0; i < cols.length; i++) {
            out[i] = col("_c" + i).alias(cols[i]);
        }
        out[cols.length] = col("_o").alias("arquivo_origem");
        if (permissive) {
            out[cols.length + 1] = col("_e").alias("_decode_error");
        }
        return split.select(out);
    }
}
