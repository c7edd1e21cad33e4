#!/bin/sh
# Word-count reducer over a key-sorted stream: "key<TAB>count".
cut -f1 | uniq -c | awk '{print $2"\t"$1}'
