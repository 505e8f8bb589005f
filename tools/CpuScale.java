// Host-diagnosis probe (round 6): pure-FP thread scaling, no memory traffic.
// Separates vCPU capacity from DRAM/LLC bandwidth: on 2026-08-22 this read
// 1831 -> 6827 Mops/s from 4 -> 16 threads (0.93 efficiency) while the
// 224px codec kernel (graft.tools.CodecCal) sat flat at ~200-250 pages/s at
// BOTH levels -- i.e. the box's cores were fine and its memory bandwidth was
// externally consumed. Usage: javac CpuScale.java && java CpuScale
public class CpuScale {
  static double run(int threads, long iters) throws Exception {
    Thread[] ts = new Thread[threads];
    final double[] sink = new double[threads*16];
    long t0 = System.nanoTime();
    for (int i = 0; i < threads; i++) {
      final int id = i;
      ts[i] = new Thread(() -> {
        double x = id + 1;
        for (long j = 0; j < iters; j++) x = x * 1.0000001 + 1e-9;
        sink[id*16] = x;
      });
      ts[i].start();
    }
    for (Thread t : ts) t.join();
    double sec = (System.nanoTime() - t0) / 1e9;
    // consume the results so the JIT cannot drop the FP loop as dead code
    double sum = 0;
    for (double x : sink) sum += x;
    System.out.printf("sink=%.3e ", sum);
    return threads * iters / sec / 1e6;
  }
  public static void main(String[] a) throws Exception {
    run(4, 50_000_000L); // warmup
    for (int th : new int[]{1, 4, 16, 32})
      System.out.printf("threads=%d Mops/s=%.0f%n", th, run(th, 400_000_000L));
  }
}
