/* Throughput benchmark of the reference MyHTML C core: parse 2,000
 * deterministic ~6.9 KB docs (make_doc), single-threaded (SINGLE mode)
 * and threaded, report docs/sec and MB/sec. */
#include <myhtml/api.h>
#include <stdio.h>
#include <stdlib.h>
#include <string.h>
#include <time.h>

static char* make_doc(int i, size_t* out_len) {
    char* buf = malloc(16384);
    size_t off = 0;
    off += sprintf(buf + off, "<!DOCTYPE html><html><body>");
    for (int b = 0; b < 40; b++) {
        off += sprintf(buf + off, "<h2>head %d %d</h2>", i, b);
        off += sprintf(buf + off,
          "<p>alpha bravo <b>charlie <i>delta</b> echo</i> foxtrot %d", b);
        off += sprintf(buf + off,
          "<img src=\"m://x\"></p><ul><li>one</li><li>two</li></ul>");
        off += sprintf(buf + off, "<table>leak<tr><td>cell</td></tr></table>");
    }
    off += sprintf(buf + off, "</body></html>");
    *out_len = off;
    return buf;
}

int main(int argc, char** argv) {
    int threads = argc > 1 ? atoi(argv[1]) : 1;
    int ndocs = 2000;
    int iters = argc > 2 ? atoi(argv[2]) : 5;
    char** docs = malloc(sizeof(char*) * ndocs);
    size_t* lens = malloc(sizeof(size_t) * ndocs);
    size_t total_bytes = 0;
    for (int i = 0; i < ndocs; i++) { docs[i] = make_doc(i, &lens[i]); total_bytes += lens[i]; }

    myhtml_t* myhtml = myhtml_create();
    myhtml_init(myhtml, threads <= 1 ? MyHTML_OPTIONS_PARSE_MODE_SINGLE
                                     : MyHTML_OPTIONS_DEFAULT, threads, 0);
    myhtml_tree_t* tree = myhtml_tree_create();
    myhtml_tree_init(tree, myhtml);

    /* warm */
    for (int i = 0; i < 200; i++)
        myhtml_parse(tree, MyENCODING_UTF_8, docs[i % ndocs], lens[i % ndocs]);

    struct timespec t0, t1;
    clock_gettime(CLOCK_MONOTONIC, &t0);
    long parsed = 0;
    for (int it = 0; it < iters; it++)
        for (int i = 0; i < ndocs; i++) {
            myhtml_parse(tree, MyENCODING_UTF_8, docs[i], lens[i]);
            parsed++;
        }
    clock_gettime(CLOCK_MONOTONIC, &t1);
    double sec = (t1.tv_sec - t0.tv_sec) + (t1.tv_nsec - t0.tv_nsec) / 1e9;
    printf("threads=%d docs/sec=%.0f MB/sec=%.1f (avg doc %.0f bytes)\n",
           threads, parsed / sec, parsed / sec * (total_bytes / (double)ndocs) / 1e6,
           total_bytes / (double)ndocs);
    myhtml_tree_destroy(tree);
    myhtml_destroy(myhtml);
    return 0;
}
