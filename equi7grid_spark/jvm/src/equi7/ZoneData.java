package equi7;

import java.io.DataInputStream;
import java.io.IOException;
import java.io.InputStream;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;

/**
 * Zone-assignment data baked into the jar (resource equi7/zonedata.bin,
 * written by scripts/build_zonedata.py): the 1-degree decided-cell map
 * plus per-boundary-cell candidate zones with reference parity and
 * local edge lists. Mirrors zones.decided_cell_codes and
 * zones_pip.boundary_cands exactly -- including the even-odd parity
 * arithmetic (zones_pip._numpy_parity), so the compiled resolver, the
 * NumPy reference and the DuckDB SQL mirror agree bit-for-bit away
 * from measure-zero edge ties. ZoneMembers reads its members.bin with
 * the same resource/readCands and cell arithmetic.
 */
final class ZoneData {
    static final int NX = 360, NY = 180;

    static final class Cand {
        byte zc;
        boolean refPar;
        double refx, refy;
        double[] edges; // x1,y1,x2,y2 quadruples
    }

    static final byte[] CELLS;
    static final Cand[][] CANDS; // indexed by cell_id; null if not boundary

    static {
        ByteBuffer b = resource("/equi7/zonedata.bin");
        CELLS = new byte[NX * NY];
        b.get(CELLS);
        CANDS = readCands(b);
    }

    /** Little-endian view of a resource baked into the jar. */
    static ByteBuffer resource(String name) {
        try (InputStream in = ZoneData.class.getResourceAsStream(name)) {
            if (in == null) throw new IllegalStateException(name + " missing");
            byte[] all = new DataInputStream(in).readAllBytes();
            return ByteBuffer.wrap(all).order(ByteOrder.LITTLE_ENDIAN);
        } catch (IOException e) {
            throw new IllegalStateException("failed to read " + name, e);
        }
    }

    /** The cand section (scripts/build_zonedata.py), indexed by cell_id;
     *  null for a cell without candidates. */
    static Cand[][] readCands(ByteBuffer b) {
        int nCells = b.getInt();
        Cand[][] cands = new Cand[NX * NY][];
        for (int c = 0; c < nCells; c++) {
            int cellId = b.getInt();
            int nCands = b.get() & 0xFF;
            Cand[] arr = new Cand[nCands];
            for (int k = 0; k < nCands; k++) {
                Cand cd = new Cand();
                cd.zc = b.get();
                cd.refPar = b.get() != 0;
                cd.refx = b.getDouble();
                cd.refy = b.getDouble();
                int ne = b.getInt();
                cd.edges = new double[ne * 4];
                for (int i = 0; i < ne * 4; i++) cd.edges[i] = b.getDouble();
                arr[k] = cd;
            }
            cands[cellId] = arr;
        }
        return cands;
    }

    private ZoneData() {}

    /** Primary zone code for (lon, lat); -1 if out of every zone. */
    static int zoneCode(double lon, double lat) {
        double lonN = normLon(lon);
        double latC = clampLat(lat);
        int cell = cell(lonN, latC);
        byte code = CELLS[cell];
        if (code >= 0) return code;
        Cand[] cands = CANDS[cell];
        if (cands == null) return -1;
        for (Cand cd : cands) {
            if (parity(cd, lonN, latC)) return cd.zc;
        }
        return -1;
    }

    /** lon normalized to [-180, 180). */
    static double normLon(double lon) {
        return ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0;
    }

    /** lat clamped to [-90, 90]. */
    static double clampLat(double lat) {
        return Math.min(90.0, Math.max(-90.0, lat));
    }

    /** 1-degree cell id (ix * 180 + iy) of a normalized, clamped point. */
    static int cell(double lonN, double latC) {
        int ix = (int) Math.min(NX - 1, Math.max(0, Math.floor(lonN + 180.0)));
        int iy = (int) Math.min(NY - 1, Math.max(0, Math.floor(latC + 90.0)));
        return ix * NY + iy;
    }

    /** Even-odd parity of P vs the cand's zone: parity of the reference
     *  point XOR crossings of the two-leg path R -> (R.x, P.y) -> P.
     *  Term-for-term port of zones_pip._numpy_parity. */
    static boolean parity(Cand cd, double X, double Y) {
        boolean par = cd.refPar;
        double refx = cd.refx, refy = cd.refy;
        double xlo = Math.min(X, refx), xhi = Math.max(X, refx);
        double ylo = Math.min(Y, refy), yhi = Math.max(Y, refy);
        double[] e = cd.edges;
        for (int i = 0; i < e.length; i += 4) {
            double x1 = e[i], y1 = e[i + 1], x2 = e[i + 2], y2 = e[i + 3];
            double dy = y2 - y1, dx = x2 - x1;
            double xInt = x1 + (Y - y1) * dx / (dy == 0.0 ? 1.0 : dy);
            double yInt = y1 + (refx - x1) * dy / (dx == 0.0 ? 1.0 : dx);
            boolean h = ((y1 > Y) != (y2 > Y)) && (xlo < xInt) && (xInt <= xhi);
            boolean v = ((x1 > refx) != (x2 > refx)) && (ylo < yInt) && (yInt <= yhi);
            if (h != v) par = !par;
        }
        return par;
    }
}
